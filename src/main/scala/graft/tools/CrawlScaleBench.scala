package graft.tools

import org.apache.spark.sql.functions._
import graft.runtime.Tables

/** Scale-curve experiment for the crawl-curation CAPSTONE (q145 —
  * VERDICT r9 item 7): grow the crawled corpus m× (each replica under
  * its own doc_id range, re-planting the every-3rd re-crawls so the
  * dedup gate has real work at every scale) and measure the composed
  * pipeline end to end. The plan is one scan + one fingerprint-keyed
  * shuffle (keep-first window) + one domain rollup — per-doc cost must
  * stay flat as the corpus grows, executor count being the only knob
  * a 100 TB run turns.
  *
  * Usage: runMain graft.tools.CrawlScaleBench [sfDir] [scales]
  * (defaults: /root/testdata/sf0.1 and 1,10). One JSON line per
  * scale; paste into COVERAGE.md.
  */
object CrawlScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scales = args.lift(1).getOrElse("1,10").split(",").map(_.trim.toInt).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.runtime.LocalSession(cpus)

    val base = Tables.read(spark, sfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))

    def crawled(m: Int) = (0 until m).map { r =>
      // replica r under its own id range; re-crawls planted per replica
      val rep = base.select((col("doc_id") + r * 2000000L).as("doc_id"),
        col("text"))
      rep.unionAll(rep.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    }.reduce(_ unionAll _)

    for (m <- scales) {
      val c = crawled(m).persist()
      val n = c.count() // materialize input OUTSIDE the timing
      // warmup rep then min-of-2 (the Bench convention)
      def rep(): Double = {
        val t0 = System.nanoTime()
        graft.queries.PipelineQueries.crawlPipeline(c)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      rep()
      val t = Seq(rep(), rep()).min
      c.unpersist()
      println(f"""{"tool":"CrawlScaleBench","scale":$m,"docs":$n,""" +
        f""""wall_s":$t%.2f,"docs_per_s":${n / t}%.0f}""")
    }
    spark.stop()
  }
}
