package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import graft.runtime.{BuildOnce, Staging, Tables}
import graft.tools.ParityHarness.digest

/** [[graft.runtime.Tables]] is the one reader of the sf tables: it reads
  * what a plain `read.parquet` reads, resolves each table's schema once,
  * and resolves it again when the file changes or [[BuildOnce.clear]]
  * runs. Building a query therefore starts no schema-inference job after
  * the first read of each table.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val sf = "/root/testdata/sf0.001"
  private val names = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  private def inference[T](f: => T): Int = PlanAudit.census(spark)(f)._2.inference

  private def withTempDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("tables_spec")
    try body(dir.toString) finally Staging.deleteTree(dir)
  }

  test("every sf table reads as a plain read.parquet does") {
    names.foreach { n =>
      val viaTables = Tables.read(spark, sf, n)
      val plain = spark.read.parquet(s"$sf/$n.parquet")
      assert(viaTables.schema == plain.schema, n)
      assert(digest(viaTables) == digest(plain), n)
    }
  }

  test("events arrive with ts as BIGINT nanos") {
    assert(Tables.events(spark, sf).schema("ts").dataType == LongType)
  }

  test("a TIMESTAMP(NANOS) events table reads as BIGINT nanos") {
    // the older testdata generation; Spark 4 reads it only under nanosAsLong
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    withTempDir { dir =>
      Files.copy(getClass.getResourceAsStream("/graft/tables/events_nanos.parquet"),
        Paths.get(dir, "events.parquet"))
      val ts = Tables.events(spark, dir).orderBy("event_id").collect().map(_.getAs[Long]("ts"))
      assert(ts.toSeq ==
        Seq(1700000000123456789L, 1700000001000000001L, 1700003600999999999L))
    }
  }

  test("a table rewritten at the same path is resolved again") {
    withTempDir { dir =>
      // a single-file table, as the sf tables ship
      val file = Paths.get(dir, "t.parquet")
      Files.copy(Paths.get(sf, "nation.parquet"), file)
      assert(Tables.read(spark, dir, "t").schema == Tables.read(spark, sf, "nation").schema)
      Files.copy(Paths.get(sf, "region.parquet"), file, StandardCopyOption.REPLACE_EXISTING)
      val region = Tables.read(spark, dir, "t")
      assert(region.schema == Tables.read(spark, sf, "region").schema)
      assert(digest(region) == digest(Tables.read(spark, sf, "region")))
      // a directory table, as Spark writes one
      spark.range(3).write.parquet(s"$dir/u.parquet")
      assert(Tables.read(spark, dir, "u").columns.toSeq == Seq("id"))
      spark.range(3).selectExpr("id", "id * 2 AS y").write.mode("overwrite")
        .parquet(s"$dir/u.parquet")
      assert(Tables.read(spark, dir, "u").columns.toSeq == Seq("id", "y"))
    }
  }

  test("after BuildOnce.clear() the schema is resolved again") {
    Tables.read(spark, sf, "region")
    assert(inference(Tables.read(spark, sf, "region")) == 0)
    BuildOnce.clear()
    assert(inference(Tables.read(spark, sf, "region")) == 1)
  }

  test("a file: URI dir reads the same table") {
    assert(digest(Tables.read(spark, s"file:$sf", "nation")) ==
      digest(spark.read.parquet(s"$sf/nation.parquet")))
  }

  test("a second build of a lazy query starts no Spark job") {
    // one reader each: documents, embeddings, events, a TPC-H table
    Seq("q20_dedup_exact", "q27_ann_cosine_topk", "q32_asof_join", "q01_agg_pricing")
      .foreach { n =>
        val fn = SparkEntry.queries(n)
        fn(spark, sf)
        val jobs = PlanAudit.census(spark)(fn(spark, sf))._2.jobs
        assert(jobs == 0, s"$n: $jobs jobs on its second build")
      }
  }

  test("a streaming rig's second build infers no schema") {
    // a rig runs its stream while it is built; only the reads must be free
    val fn = SparkEntry.queries("g55_stream_counts")
    fn(spark, sf).collect()
    assert(inference(fn(spark, sf)) == 0)
  }

  test("no source outside Tables.scala reads an sf table") {
    val read = ("""read\.parquet\(s"\$\{?\w+\}?/(\$\{?\w+\}?|""" +
      names.mkString("|") + """)\.parquet"\)""").r
    val offenders = MainSources.files.filterNot(_.getName == "Tables.scala")
      .flatMap(f => read.findAllIn(MainSources.text(f)).map(m => s"${f.getName}: $m"))
    assert(offenders.size == 0, s"sf-table reads outside " +
      s"graft.runtime.Tables, e.g. ${offenders.take(3).mkString("; ")}")
  }
}
