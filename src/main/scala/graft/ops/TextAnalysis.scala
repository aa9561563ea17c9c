package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.runtime.Barrier

/** Text-analysis operators for training-data pipelines: token counting,
  * language ID, quality scoring, fingerprinting. All pure column
  * expressions (whole-stage codegen; no UDFs in the hot path).
  */
object TextAnalysis {

  /** Whitespace token count; empty/whitespace-only text counts 0 (a bare
    * split("") yields [""], which would report a phantom token and let
    * empty documents slip past n_tokens >= 1 quality filters).
    */
  def wsTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0).otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword-regex token count: word pieces, digit runs, and
    * single punctuation marks — the pre-tokenizer split most BPE
    * vocabularies assume. A real tokenizer maps pieces to ids; the
    * count is the budget-relevant signal.
    */
  val bpeTokenPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeTokenPattern), lit(0)))

  /** Stopword-hit count against a small lexicon — the lexicon arm of a
    * language-ID heuristic. Counted by token equality over a
    * punctuation-stripped split: the replace-length trick undercounts
    * adjacent repeats (shared delimiter space), misses words touching
    * punctuation, and breaks on regex metachars in the lexicon.
    */
  def stopwordHits(text: Column, stopwords: Seq[String]): Column = {
    val tokens = split(lower(text), "\\W+")
    val lex = array(stopwords.map(lit): _*)
    size(filter(tokens, t => array_contains(lex, t))).cast("long")
  }

  /** Non-ASCII character count — the charset arm of language ID (CJK and
    * most non-Latin scripts light this up; `[ -~]` is printable ASCII in
    * every regex dialect).
    */
  def nonAsciiCount(text: Column): Column =
    length(regexp_replace(text, "[ -~]", "")).cast("long")

  /** N-gram-free language-ID heuristic: charset first, then English
    * stopword density. Returns a label column ("cjk-ish", "en-ish",
    * "latin-other").
    */
  def langIdGuess(text: Column): Column = {
    val n = length(text).cast("double")
    val nonAscii = nonAsciiCount(text).cast("double")
    val stops = stopwordHits(text, Seq("the", "a", "of", "and", "to", "in")).cast("double")
    val tokens = wsTokenCount(text).cast("double")
    when(nonAscii / greatest(n, lit(1d)) > 0.3, lit("cjk-ish"))
      .when(stops / greatest(tokens, lit(1d)) > 0.08, lit("en-ish"))
      .otherwise(lit("latin-other"))
  }

  /** Quality signals in integer milli-units: length, token count, mean
    * token length, punctuation and digit ratios. Integer outputs keep
    * downstream filters engine-portable (no float-ulp drift).
    */
  def qualitySignals(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val tokens = wsTokenCount(t)
    val letters = length(regexp_replace(t, "\\s", ""))
    val punct = length(t) - length(regexp_replace(t, "[^A-Za-z0-9\\s]", ""))
    val digits = length(t) - length(regexp_replace(t, "[0-9]", ""))
    df
      .withColumn("len_chars", length(t).cast("long"))
      .withColumn("n_tokens", tokens.cast("long"))
      .withColumn("avg_token_len_milli",
        floor(letters * 1000.0 / greatest(tokens, lit(1))).cast("long"))
      .withColumn("punct_ratio_milli",
        floor(punct * 1000.0 / greatest(length(t), lit(1))).cast("long"))
      .withColumn("digit_ratio_milli",
        floor(digits * 1000.0 / greatest(length(t), lit(1))).cast("long"))
  }

  /** Unigram language-model log-probability in integer milli-nats — the
    * classic LM-based quality filter for training corpora (low score =
    * gibberish or out-of-domain). The lexicon's log-probs are
    * precomputed on the driver as INTEGERS, so the score is a sum of
    * ints: exact, engine-portable, no float drift. OOV tokens get a
    * fixed penalty.
    */
  val oovPenaltyMilli: Long = -12000L
  lazy val unigramLogProbsMilli: Seq[(String, Long)] = {
    val total = graft.runtime.SeedData.words.map(_._2).sum
    graft.runtime.SeedData.words.map { case (w, freq) =>
      w -> math.round(math.log(freq / total) * 1000)
    }
  }

  def unigramScore(text: Column): Column = {
    val lex = map(unigramLogProbsMilli.flatMap { case (w, lp) =>
      Seq(lit(w), lit(lp))
    }: _*) // literal map: constant-folded once, cheap per-element lookup
    val tokens = split(lower(trim(text)), "\\s+")
    aggregate(tokens, lit(0L),
      (acc, t) => acc + coalesce(element_at(lex, t), lit(oovPenaltyMilli)))
  }

  /** Repetition signals — the Gopher-family repetition filters adapted
    * to single-line documents: type-token ratio and the share of the
    * most frequent bigram, both in integer ppm. Natural text sits far
    * from either extreme; boilerplate, template spam, and generation
    * loops light them up.
    *
    * Shape at 100 TB: the scalar signals are pure column expressions on
    * the scan; the top-bigram count is explode → two map-side-combinable
    * aggregations keyed by doc id, then an id-equi join back — nothing
    * ever shuffles wider than the doc table. The token array is
    * materialized once behind a persist barrier (CollapseProject would
    * otherwise inline the split into every lambda element, re-splitting
    * the text per bigram — see Dedup.shinglesFromTokens).
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Barrier.scoped { scope =>
      val tokens = scope.persist(Barrier.spread(df)
        .select(col(idCol).as("__id"), split(col(textCol), " ").as("__w")))
      val base = tokens.select(col("__id"),
        size(col("__w")).cast("long").as("n_tokens"),
        size(array_distinct(col("__w"))).cast("long").as("n_distinct"))
      val bigrams = tokens.select(col("__id"),
        explode(when(size(col("__w")) >= 2,
          transform(sequence(lit(1), size(col("__w")) - 1),
            i => concat_ws(" ", element_at(col("__w"), i), element_at(col("__w"), i + 1))))
          .otherwise(array().cast("array<string>"))).as("__bg"))
      val top = bigrams.groupBy("__id", "__bg").agg(count(lit(1)).as("__c"))
        .groupBy("__id").agg(max("__c").as("__top"))
      Barrier.cut(base.join(top, Seq("__id"), "left")
        .select(col("__id").as(idCol),
          col("n_tokens"), col("n_distinct"),
          floor(col("n_distinct") * 1000000L / greatest(col("n_tokens"), lit(1L)))
            .cast("long").as("ttr_ppm"),
          coalesce(col("__top"), lit(0L)).cast("long").as("top_bigram_n"),
          when(col("n_tokens") >= 2,
            floor(coalesce(col("__top"), lit(0L)) * 1000000L / (col("n_tokens") - 1)))
            .otherwise(lit(0L)).cast("long").as("top_bigram_ppm")))
    }

  // --------------------------------------------------------- PII scrubbing

  /** Portable PII patterns: the character-class-only regex subset, so
    * Java regex (Spark) and RE2 (DuckDB and most scrub services) agree
    * on every match — no backreferences, no lookaround. Intentionally
    * high-recall: a training-data scrubber prefers eating a stray
    * version string over leaking an SSN.
    */
  val piiEmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiSsnPattern = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
  val piiPhonePattern = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** Per-document PII match counts (email / SSN-shaped / phone-shaped),
    * as long columns. Counted on the original text. The two digit
    * groupings (3-2-4 vs 3-3-4) cannot match each other, but a digit run
    * NESTED in an email local part matches twice ('123-45-6789@x.co'
    * counts as n_email AND n_ssn, while scrubPii redacts it once, as
    * <EMAIL>) — counts are match-census signals on raw text and may
    * exceed what scrubPii redacts; count on scrubbed text if the two
    * must agree.
    */
  def piiCounts(text: Column): Seq[Column] = Seq(
    size(regexp_extract_all(text, lit(piiEmailPattern), lit(0))).cast("long").as("n_email"),
    size(regexp_extract_all(text, lit(piiSsnPattern), lit(0))).cast("long").as("n_ssn"),
    size(regexp_extract_all(text, lit(piiPhonePattern), lit(0))).cast("long").as("n_phone"))

  /** Redact PII in place (email first: an address can contain digit
    * runs, the reverse can't happen). Pure codegen'd column expression —
    * the scrub runs scan-side at 100 TB, no shuffle, no UDF.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, piiEmailPattern, "<EMAIL>"),
        piiSsnPattern, "<SSN>"),
      piiPhonePattern, "<PHONE>")

  /** Content fingerprint: md5 of case/whitespace-normalized text
    * (trimmed — consistent with rollingHash and Dedup.exact).
    */
  def fingerprint(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** Unicode canonicalization — the cleanup pass that runs BEFORE any
    * equality-based op (dedup, shingles, token counts): NFC composition
    * via the codegen'd [[graft.expr.NfcNormalize]] (crawls mix
    * precomposed and decomposed grapheme forms; NFC is UAX #15, so
    * independent engines agree byte-for-byte), then C0/DEL control
    * characters stripped, whitespace runs collapsed, ends trimmed. Pure
    * scan-side column arithmetic, no shuffle.
    */
  def normalizeText(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.PlanBridge
    val nfc = PlanBridge.column(graft.expr.NfcNormalize(PlanBridge.expression(text)))
    trim(regexp_replace(
      regexp_replace(nfc, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
      "\\s+", " "))
  }

  /** Hashing-trick feature vectorizer (Weinberger et al., ICML'09 —
    * the fastText/Vowpal-Wabbit input representation): each token
    * hashes to one of `nBuckets` signed buckets, features[b] = Σ signs
    * of the tokens landing in b. No vocabulary, no fit pass, no
    * dimension-table join — the property that makes it THE cheap
    * featurizer at 100 TB: pure scan-side column arithmetic, zero
    * shuffle, output width fixed at nBuckets regardless of corpus.
    *
    * Token hash = first 60 bits of md5 (both engines parse the same 15
    * hex chars — the q93 oracle), bucket = (h >> 1) mod nBuckets, sign
    * = ±1 from the low bit (the signed trick keeps collision noise
    * zero-mean).
    *
    * Lowering: explode FIRST, hash AFTER — the md5/conv chain on the
    * exploded token column runs in whole-stage codegen, where any
    * array-staged formulation pays interpreted HOF-lambda evaluation
    * per element (measured 14.5 s vs 1.6 s on the sf0.1 corpus at 32
    * buckets). The (id, bucket) aggregation is map-side combinable —
    * the shuffle carries at most min(tokens, touched buckets) rows per
    * document — and the dense vector reassembles from the
    * touched-bucket map; token-less documents get their zero vector
    * restored after the explode drops them.
    */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 4096, s"nBuckets out of range: $nBuckets")
    val toks = filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0)
    val staged = df.select(col(idCol), toks.as("__toks"))
    val h = conv(substring(md5(col("__tok")), 1, 15), 16, 10).cast("long")
    val assembled = staged
      .select(col(idCol), explode(col("__toks")).as("__tok"))
      .withColumn("__h", h)
      .select(col(idCol),
        pmod(shiftrightunsigned(col("__h"), 1), lit(nBuckets.toLong)).as("__b"),
        when(col("__h") % 2 === 0, lit(1L)).otherwise(lit(-1L)).as("__sgn"))
      .groupBy(col(idCol), col("__b")).agg(sum(col("__sgn")).as("__w"))
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("__b"), col("__w"))))
        .as("__bm"))
      .select(col(idCol),
        transform(sequence(lit(0L), lit((nBuckets - 1).toLong)),
          b => coalesce(element_at(col("__bm"), b), lit(0L))).as("features"))
    staged.select(col(idCol)).join(assembled, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("features"), array_repeat(lit(0L), nBuckets)).as("features"))
  }

  /** Inverted-index construction — the search/RAG-index build pass:
    * one scan tokenizes (term, doc, position) postings, one keyed
    * shuffle groups them per term with document frequency, total term
    * frequency, and the postings sorted (doc, pos). Map-side combine
    * applies to the counts; the postings array is the only payload
    * that grows with df — at 100 TB, stop-terms are capped upstream by
    * [[removeBoilerplateChunks]]-style df filters before collecting
    * postings.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
      maxDf: Long = 0L): DataFrame = {
    val postings = Barrier.spread(df)
      .select(col(idCol).as("__doc"),
      posexplode(filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0))
        .as(Seq("__pos", "term")))
    val base =
      if (maxDf <= 0) postings
      else {
        // stop-term guard: a term in k documents materializes a k-entry
        // posting array — at corpus scale stop-words make k grow with
        // the corpus (the same failure mode the shingle queries cap
        // with df <= 64). Count df first (map-side combinable, rows not
        // arrays) and collect postings only for terms under the cap.
        val keep = postings.groupBy("term")
          .agg(countDistinct(col("__doc")).as("__df"))
          .filter(col("__df") <= maxDf)
          .select(col("term"))
        postings.join(keep, Seq("term"), "left_semi")
      }
    base.groupBy("term")
      .agg(countDistinct(col("__doc")).as("df"),
        count(lit(1)).as("tf"),
        sort_array(collect_list(struct(col("__doc").as("doc"),
          col("__pos").cast("long").as("pos")))).as("postings"))
  }

  /** Overlapping-window chunking — the RAG / context-window prep op:
    * split each document into chunks of `chunkTokens` whitespace tokens
    * advancing by `stride` (stride < chunkTokens ⇒ overlap, the
    * standard retrieval setup so no answer span straddles a boundary
    * unseen). Pure scan-side arithmetic: the token array is staged once
    * (lambda-CSE staging rule), chunk starts are a `sequence`, and each
    * chunk re-joins its token slice — no shuffle, no UDF, exactly
    * replayable in SQL. Output: one row per (id, chunk_id) with
    * start_tok, n_toks and the chunk text.
    *
    * The last window starts at the final stride position < n_toks, so
    * every token lands in ≥ 1 chunk and trailing fragments shorter
    * than a full chunk are kept (retrieval wants them).
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens: $chunkTokens")
    require(stride >= 1 && stride <= chunkTokens, s"stride: $stride")
    val toks = filter(split(col(textCol), "\\s+"), t => length(t) > 0)
    val staged = df.select(col(idCol), toks.as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
    // chunk starts 0, stride, 2*stride, ..., last = floor((n-1)/stride)*stride
    staged
      .withColumn("__last",
        expr(s"CAST((__n - 1) div $stride AS BIGINT) * $stride"))
      .withColumn("__starts", sequence(lit(0L), col("__last"), lit(stride.toLong)))
      .select(col(idCol), col("__toks"), col("__n"),
        posexplode(col("__starts")).as(Seq("chunk_id", "start_tok")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col("start_tok"),
        least(lit(chunkTokens.toLong), col("__n") - col("start_tok")).as("n_toks"),
        concat_ws(" ", slice(col("__toks"), col("start_tok").cast("int") + 1,
          lit(chunkTokens))).as("chunk_text"))
  }

  /** Dictionary token-id encoding — the tokenize-to-ints step between
    * text and sequence packing: a frequency-ranked vocabulary of
    * `vocabSize` terms (ties broken lexicographically — a total order,
    * so the vocab is deterministic and partitioning-invariant), then
    * every token mapped to its id scan-side through a BROADCAST join;
    * out-of-vocabulary tokens get id −1 (UNK). The corpus shuffles once
    * for the word count (map-side combinable); the rank window runs on
    * the dimension-sized distinct-term table, never the corpus.
    * Output: one row per (id, pos) with the token id — the exploded
    * form composes directly with [[graft.ops.Packing.packSequences]].
    */
  def encodeTokenIds(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize: $vocabSize")
    val toks = filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0)
    val exploded = df.select(col(idCol),
      posexplode(toks).as(Seq("pos", "__tok")))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__cnt").desc, col("__tok"))
    val vocab = exploded.groupBy("__tok").agg(count(lit(1)).as("__cnt"))
      .withColumn("token_id", (row_number().over(w) - 1).cast("long"))
      .filter(col("token_id") < vocabSize)
      .select(col("__tok"), col("token_id"))
    exploded.join(broadcast(vocab), Seq("__tok"), "left")
      .select(col(idCol), col("pos").cast("long").as("pos"),
        coalesce(col("token_id"), lit(-1L)).as("token_id"))
  }

  /** Rolling chained hash over the token stream: h = xxhash64(h, token).
    * Order-sensitive (unlike the md5 bag fingerprint) and overflow-free
    * under ANSI mode (a `h*31 + x` polynomial would throw on long
    * overflow in Spark 4's default ANSI arithmetic).
    */
  def rollingHash(text: Column): Column =
    aggregate(split(lower(trim(text)), "\\s+"), lit(0L),
      (acc, tok) => xxhash64(acc, tok))

  // ------------------------------------------- compression-ratio signal

  /** Deflate compression ratio per document — the classic redundancy /
    * machine-generated-text signal (highly repetitive text compresses
    * far below natural language). Emits (idCol, n_bytes, n_deflate,
    * ratio_ppm = deflate·1e6/raw; empty docs report 1e6).
    *
    * Runs in a typed mapPartitions of its own (not
    * [[graft.runtime.PerRow]], which keeps no per-partition state):
    * one Deflater instance per partition, reset per row — allocation-
    * free in steady state, embarrassingly parallel, no shuffle. Level
    * is pinned so the signal is deterministic and partitioning-
    * invariant (asserted in ScalaTest); it is NOT DuckDB-oracle-able
    * (no SQL deflate), so the driver check is rows-only by design.
    */
  def compressionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val out = df
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6, false)
        val inflater = new java.util.zip.Inflater(false)
        val buf = new Array[Byte](8192)
        val crc = new java.util.zip.CRC32()
        it.map { case (id, text) =>
          val bytes = (if (text == null) "" else text).getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(bytes)
          deflater.finish()
          val comp = new java.io.ByteArrayOutputStream()
          while (!deflater.finished()) {
            val k = deflater.deflate(buf)
            comp.write(buf, 0, k)
          }
          val n = comp.size().toLong
          // round-trip CRC: inflate the stream we just wrote and CRC
          // the result — binds the compressed bytes to the exact input
          // content, and the SQL oracle recomputes the same CRC-32
          // from the raw text (DuckXxHash.crc32Expr), so a corrupted
          // or mismatched deflate stream flips the hash-match. The
          // deflate LENGTH itself stays the one irreducible cell (no
          // SQL deflate exists); its determinism and the
          // repetitive-vs-natural separation are ScalaTest-asserted.
          inflater.reset()
          inflater.setInput(comp.toByteArray)
          crc.reset()
          while (!inflater.finished()) {
            val k = inflater.inflate(buf)
            if (k > 0) crc.update(buf, 0, k)
            else if (!inflater.finished() && inflater.needsInput())
              throw new java.util.zip.DataFormatException(
                "truncated deflate stream")
          }
          (id, bytes.length.toLong, n,
            if (bytes.isEmpty) 1000000L else n * 1000000L / bytes.length,
            crc.getValue)
        }
      }
    out.toDF(idCol, "n_bytes", "n_deflate", "ratio_ppm", "crc_rt")
  }

  // --------------------------------------- corpus-level boilerplate removal

  /** CCNet/C4-style boilerplate removal by corpus document frequency:
    * split each document into consecutive `chunkTokens`-token chunks
    * (single-space tokenization, last chunk may be short), drop every
    * chunk that appears in MORE than `maxDf` distinct documents, and
    * reassemble the survivors in order.
    *
    * Output: (idCol, clean_text, n_kept, n_dropped). Documents whose
    * chunks are all boilerplate survive with empty clean_text — removal
    * is a per-chunk decision, never a document filter.
    *
    * Scale shape: chunk document frequency is two map-side-combinable
    * stages (distinct (chunk, doc), then count per chunk) keyed on the
    * chunk string; the boilerplate set is bounded above by
    * totalChunks / maxDf rows, so the anti-join broadcasts under AQE
    * when that bound is small and degrades to a shuffled semi-join on
    * the chunk key otherwise — never a collect, never all-pairs. The
    * reassembly groupBy shuffles each surviving chunk exactly once.
    */
  def removeBoilerplateChunks(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, maxDf: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be positive: $chunkTokens")
    require(maxDf >= 1, s"maxDf must be positive: $maxDf")
    // Stage the token array as an attribute BEFORE the chunk transform:
    // Catalyst does not CSE inside lambda bodies, so an inline split()
    // under the per-chunk slice() would re-split the whole text once per
    // chunk — quadratic in document length (the SpanDedup trap).
    // CollapseProject cannot re-inline __toks: split() is non-cheap and
    // the consumer references it twice (size + slice).
    val tokens = Barrier.spread(df)
      .select(col(idCol).as("__id"), split(col(textCol), " ").as("__toks"))
    // ceil(size / chunkTokens) in exact double range (token counts << 2^53)
    val nChunks = ((size(col("__toks")) + lit(chunkTokens - 1)) / lit(chunkTokens)).cast("int")
    val chunks = tokens.select(col("__id"),
      posexplode(transform(sequence(lit(0), nChunks - 1),
        j => concat_ws(" ", slice(col("__toks"), j * chunkTokens + 1, lit(chunkTokens)))))
        .as(Seq("pos", "chunk")))
    val boiler = chunks.select(col("chunk"), col("__id")).distinct()
      .groupBy("chunk").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select("chunk")
    val kept = chunks.join(boiler, Seq("chunk"), "left_anti")
    val cleaned = kept.groupBy("__id").agg(
      concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("chunk")))),
          e => e("chunk"))).as("clean_text"),
      count(lit(1)).as("n_kept"))
    tokens.select(col("__id"), nChunks.cast("long").as("__nc"))
      .join(cleaned, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__nc") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }
}
