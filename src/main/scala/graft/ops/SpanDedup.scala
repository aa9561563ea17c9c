package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.runtime.Barrier

/** Span-level (sub-document) deduplication: the C4/RefinedWeb move of
  * removing REPEATED SPANS from otherwise-distinct documents, which
  * doc-level dedup (exact or near-dup) cannot see. Spans here are
  * fixed-size non-overlapping word tiles: deterministic, alignment-
  * stable, and exactly reproducible in SQL (sentence/line splitting is
  * corpus-dependent; the tile rule is not).
  *
  * Semantics (keep-first, global):
  *   - a document's words split into ⌊n/tileWords⌋ full tiles; the
  *     remainder tail is always kept;
  *   - a tile occurrence survives iff its tile text is globally unique
  *     OR it is the globally FIRST occurrence (lowest (doc, position));
  *   - the cleaned document is the surviving tiles in original order
  *     plus the tail.
  *
  * Scale shape: one scan-side tile explode, one tile-keyed aggregation
  * whose `count` and `min(struct)` are both map-side combinable (a
  * boilerplate tile shared by millions of docs partial-aggregates on
  * the map side — no giant sort partition, unlike a window over the
  * tile key), and one equi-join back on the tile. AQE's skew-join
  * handles residual hot tiles.
  */
object SpanDedup {

  /** Tile column over an ALREADY-MATERIALIZED token-array attribute.
    * The tokens must be an attribute, not an inline split(): there is
    * no CSE inside lambda bodies, so an inline split would re-tokenize
    * the whole document once per tile — quadratic in document length
    * (same trap as Dedup.shinglesFromTokens).
    */
  private def tilesFromTokens(ws: org.apache.spark.sql.Column,
      tileWords: Int): org.apache.spark.sql.Column =
    // sequence(1, 0) is DESCENDING in Spark — guard short docs
    when(size(ws) >= tileWords,
      transform(sequence(lit(1), floor(size(ws) / tileWords).cast("int")), i =>
        array_join(slice(ws, (i - 1) * tileWords + 1, lit(tileWords)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Tile occurrences: one row per (doc, tileIdx, tile). Tiles are
    * 1-indexed; docs shorter than one tile emit nothing. One-shot
    * convenience form; spanDedupReport keeps the token array behind a
    * persist barrier and shares it across tiles/stats/tail.
    */
  def tileOccurrences(df: DataFrame, idCol: String, textCol: String,
      tileWords: Int = 10): DataFrame = {
    require(tileWords >= 1, s"tileWords must be positive: $tileWords")
    df.select(col(idCol).as("doc_id"),
      split(coalesce(col(textCol), lit("")), " ").as("__ws"))
      .select(col("doc_id"), tilesFromTokens(col("__ws"), tileWords).as("__tiles"))
      .select(col("doc_id"), posexplode(col("__tiles")).as(Seq("__pos", "tile")))
      .select(col("doc_id"), (col("__pos") + 1).cast("long").as("idx"), col("tile"))
  }

  /** Per-document span-dedup report: total tiles, tiles that are
    * duplicated ANYWHERE in the corpus, and the md5 of the cleaned
    * (keep-first) text — compact enough to hash-compare at any scale.
    * Every input document appears exactly once (0-tile docs included).
    */
  def spanDedupReport(df: DataFrame, idCol: String, textCol: String,
      tileWords: Int = 10): DataFrame = {
    require(tileWords >= 1, s"tileWords must be positive: $tileWords")
    Barrier.scoped { scope =>
      // persist barrier: keeps the split out of the tile lambda and shares
      // ONE tokenization across the tile explode and the tail projection
      val tokens = scope.persist(df
        .select(col(idCol).as("doc_id"),
          split(coalesce(col(textCol), lit("")), " ").as("__ws")))
      val occ = tokens
        .select(col("doc_id"), tilesFromTokens(col("__ws"), tileWords).as("__tiles"))
        .select(col("doc_id"), posexplode(col("__tiles")).as(Seq("__pos", "tile")))
        .select(col("doc_id"), (col("__pos") + 1).cast("long").as("idx"), col("tile"))
      val census = occ.groupBy("tile").agg(
        count(lit(1)).as("__cnt"),
        min(struct(col("doc_id"), col("idx"))).as("__first"))
      val joined = occ.join(census, "tile")
      val stats = joined.groupBy("doc_id").agg(
        count(lit(1)).as("n_tiles"),
        sum((col("__cnt") > 1).cast("long")).as("n_dup_tiles"))
      val kept = joined.filter(col("__cnt") === 1 ||
          (col("doc_id") === col("__first.doc_id") && col("idx") === col("__first.idx")))
        .groupBy("doc_id")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("tile")))),
            x => x.getField("tile")), " ").as("__kept"))
      val ws = col("__ws")
      val tailStart = floor(size(ws) / tileWords).cast("int") * tileWords + 1
      val base = tokens.select(col("doc_id"),
        when(size(ws) >= tailStart,
          array_join(slice(ws, tailStart, size(ws) - tailStart + 1), " "))
          .otherwise(lit("")).as("__tail"))
      Barrier.cut(base
        .join(stats, Seq("doc_id"), "left")
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tiles"), lit(0L)).as("n_tiles"),
          coalesce(col("n_dup_tiles"), lit(0L)).as("n_dup_tiles"),
          // concat_ws skips NULLs (not empty strings) — nullify empties so
          // a missing part never leaves a stray separator space
          md5(concat_ws(" ",
            when(length(col("__kept")) > 0, col("__kept")),
            when(length(col("__tail")) > 0, col("__tail")))).as("clean_md5")))
    }
  }
}
