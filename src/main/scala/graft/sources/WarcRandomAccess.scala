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

  final case class Fetched(
      record_id: String, warc_type: String, target_uri: String,
      warc_date: String, content_type: String, http_status: Option[Int],
      http_content_type: String, payload: Array[Byte], payload_len: Long)

  /** The CDX sidecars under `dir` as a DataFrame
    * (segment, offset, length, target_uri). Minimal 2-column sidecars
    * (offset, length only) surface a null uri; `-` (a record with no
    * WARC-Target-URI) likewise.
    */
  def cdx(spark: SparkSession, dir: String): DataFrame =
    Archive.sidecarTable(spark, dir, ".cdx").select(
      col("file").as("segment"),
      element_at(col("fields"), 1).cast("long").as("offset"),
      element_at(col("fields"), 2).cast("long").as("length"),
      nullif(get(col("fields"), lit(2)), lit("-")).as("target_uri"))

  /** Fetch exactly the records named by `lookups`
    * (segment, offset, length) — each row one bounded seek-and-parse
    * through [[Archive.seekEach]].
    */
  def fetch(lookups: DataFrame): DataFrame = {
    import lookups.sparkSession.implicits._
    Archive.seekEach[Long, Fetched](lookups.select(col("segment").cast("string"),
      col("offset").cast("long"), col("length").cast("long"))) { (f, off, in, len) =>
      val rs = WarcIo.records(new Archive.BoundedInputStream(in, len),
        gzipped = f.endsWith(".gz"))
      require(rs.hasNext, s"no WARC record at $f:$off")
      val r = rs.next()
      Seq(Fetched(r.recordId, r.warcType, r.targetUri, r.warcDate, r.contentType,
        Option(r.httpStatus).map(_.intValue), r.httpContentType,
        r.payload, r.payloadLen.toLong))
    }.toDF()
  }
}
