package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDX-driven POINT ACCESS to WARC archives: the serving path that
  * complements the scan path ([[WarcDataSource]]). A crawl user's
  * common non-scan operation is "give me these N urls out of a
  * petabyte archive" — re-scanning every segment for that is wrong by
  * orders of magnitude; the CDX sidecar ([[WarcSink]] writes
  * `offset<TAB>length<TAB>uri` per record) turns it into N bounded
  * seeks.
  *
  * Scale shape: the CDX table is a plain distributed text read (one
  * small sidecar per segment — no payload bytes touched during lookup
  * planning); the url-to-record join runs broadcast when the wanted
  * side is small (it is — that's the point of a point lookup); and
  * `fetch` repartitions hits BY SEGMENT and sorts within partitions by
  * offset, so each task opens each segment file once and seeks
  * monotonically forward through it — sequential-friendly IO, never a
  * full-segment decompress (each record is its own gzip member).
  */
object WarcRandomAccess {

  /** Shields the per-segment seekable stream from a nested reader's
    * close — the stream is reused across that segment's records.
    */
  private final class NonClosingInputStream(in: java.io.InputStream)
      extends java.io.FilterInputStream(in) {
    override def close(): Unit = ()
  }

  final case class Fetched(
      record_id: String, warc_type: String, target_uri: String,
      warc_date: String, content_type: String, http_status: Option[Int],
      http_content_type: String, payload: Array[Byte], payload_len: Long)

  /** The CDX sidecars under `dir` as a DataFrame
    * (segment, offset, length, target_uri). Minimal 2-column sidecars
    * (offset, length only) surface a null uri; `-` (a record with no
    * WARC-Target-URI) likewise. The sidecars are read as `dir` with a
    * name filter, not through a glob path: Spark's sink-metadata probe
    * would stat the literal glob and log its FileNotFoundException.
    */
  def cdx(spark: SparkSession, dir: String): DataFrame = {
    val parts = split(col("value"), "\t")
    spark.read.format("text").option("pathGlobFilter", "*.cdx").load(dir)
      .select(input_file_name().as("__f"), col("value"))
      .filter(!col("value").startsWith("#") && length(col("value")) > 0)
      .select(
        // input_file_name() yields file:///abs/path — strip the scheme
        // ("file://" + "/abs/path" or "file:" + "/abs/path")
        regexp_replace(col("__f"), "^file:(//)?", "").as("__p"),
        parts.as("__parts"))
      .select(
        regexp_replace(col("__p"), "\\.cdx$", "").as("segment"),
        element_at(col("__parts"), 1).cast("long").as("offset"),
        element_at(col("__parts"), 2).cast("long").as("length"),
        nullif(get(col("__parts"), lit(2)), lit("-")).as("target_uri"))
  }

  /** Fetch exactly the records named by `lookups`
    * (segment, offset, length) — each row one bounded seek-and-parse.
    * This is deliberately a `mapPartitions` (the documented last
    * resort): point IO against an archive byte layout has no
    * declarative form, and the surrounding plan stays Catalyst-shaped
    * (the repartition/sort below, the joins around it).
    */
  def fetch(lookups: DataFrame): DataFrame = {
    val spark = lookups.sparkSession
    import spark.implicits._
    val ds = lookups
      .select(col("segment").cast("string"), col("offset").cast("long"),
        col("length").cast("long"))
      .repartition(col("segment"))
      .sortWithinPartitions(col("segment"), col("offset"))
      .as[(String, Long, Long)]
    ds.mapPartitions { it =>
      var file: String = null
      var ch: org.apache.hadoop.fs.FSDataInputStream = null
      def closeCh(): Unit = {
        if (ch != null) { ch.close(); ch = null; file = null }
      }
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => closeCh()))
      new Iterator[Fetched] {
        override def hasNext: Boolean = {
          val h = it.hasNext
          if (!h) closeCh()
          h
        }
        override def next(): Fetched = {
          val (f, off, len) = it.next()
          if (f != file) {
            closeCh()
            // Hadoop-FS open: one seekable stream per segment, seeks
            // monotonic within the partition (sorted by offset above)
            ch = ArchiveFs.open(f)
            file = f
          }
          ch.seek(off)
          val bounded = new WarcDataSource.BoundedInputStream(
            new NonClosingInputStream(ch), len)
          val rs = WarcIo.records(bounded, gzipped = f.endsWith(".gz"))
          require(rs.hasNext, s"no WARC record at $f:$off")
          val r = rs.next()
          Fetched(r.recordId, r.warcType, r.targetUri, r.warcDate, r.contentType,
            Option(r.httpStatus).map(_.intValue), r.httpContentType,
            r.payload, r.payloadLen.toLong)
        }
      }
    }.toDF()
  }
}
