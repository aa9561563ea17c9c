package graft.runtime

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one reader of the sf tables (`<dir>/<name>.parquet`: customer,
  * documents, embeddings, events, lineitem, nation, orders, part, region
  * and supplier). Every query, streaming rig and tool reads them here, so
  * the path convention, the `events.ts` handling and schema resolution
  * live in one place.
  *
  * A plain `read.parquet` infers the schema on every call, and parquet
  * inference is a Spark job that opens a footer, so merely building a
  * query started one job per table it read. Here each table's schema is
  * resolved once per (qualified path, length, modification time) through
  * [[BuildOnce]], and every read passes it with `.schema(...)`, which
  * starts no job. A file source's relation schema is `asNullable`
  * whether it was inferred or given, so the plans are the same. A table
  * rewritten in place gets a new length or modification time and is
  * resolved again; [[BuildOnce.clear]] drops every resolved schema. The
  * stat goes through the Hadoop FileSystem, so any scheme the session
  * can read works.
  */
object Tables {

  /** The raw table `name` under `dir`. `events.ts` has shipped as
    * TIMESTAMP(NANOS) and as timestamp[us] across testdata generations;
    * nanosAsLong makes the NANOS variant readable (as BIGINT). It is a
    * session conf, so it also reaches the executors.
    */
  def read(s: SparkSession, dir: String, name: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    s.read.schema(schema(s, name, path)).parquet(path)
  }

  /** The events table with `ts` as BIGINT nanos ([[graft.queries.EventTs]]). */
  def events(s: SparkSession, dir: String): DataFrame =
    graft.queries.EventTs.toNanos(read(s, dir, "events"))

  private def schema(s: SparkSession, name: String, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val st = fs.getFileStatus(p)
    BuildOnce(s"$name schema",
        s"${fs.makeQualified(p)}@${st.getLen}@${st.getModificationTime}") {
      s.read.parquet(path).schema
    }
  }
}
