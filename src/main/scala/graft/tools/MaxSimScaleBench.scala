package graft.tools

import org.apache.spark.sql.functions._
import graft.runtime.Tables

/** Scale-curve experiment for late-interaction reranking (q143's
  * maxSim): hold the CANDIDATE set fixed and grow the doc-token corpus
  * m×. The r9 left-semi prefilter means the scoring join's input is
  * the candidates' tokens, not the corpus — so wall time must stay
  * ~flat (modulo the one linear semi-join pass over the token table)
  * while corpus tokens grow 10×, and the candidate-token count must
  * not move at all.
  *
  * Usage: runMain graft.tools.MaxSimScaleBench [sfDir] [scales]
  * (defaults: /root/testdata/sf0.1 and 1,10). One JSON line per scale;
  * paste into COVERAGE.md.
  */
object MaxSimScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scales = args.lift(1).getOrElse("1,10").split(",").map(_.trim.toInt).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.runtime.LocalSession(cpus)

    val nDocs0 = Tables.read(spark, sfDir, "documents").count()

    def vec(key: org.apache.spark.sql.Column) =
      array((0 until 4).map(j =>
        pmod(xxhash64(key, lit(j.toLong)), lit(17L)) - 8L): _*)

    // FIXED query/candidate structure: 40 queries x 8 tokens; each
    // query pairs with the base corpus's every-50th docs (the q143
    // candidate shape), independent of m
    val qToks = spark.range(0, 40)
      .select((col("id") * 50).as("qid"),
        explode(sequence(lit(0L), lit(7L))).as("qt"))
      .select(col("qid"), col("qt"), vec(col("qid") * 8 + col("qt")).as("qv"))
    val cands = spark.range(0, 40).select((col("id") * 50).as("qid"))
      .crossJoin(spark.range(0, nDocs0).select(col("id").as("doc_id")))
      .filter((col("doc_id") + col("qid")) % 5 === 0)

    for (m <- scales) {
      val dToks = spark.range(0, nDocs0 * m)
        .select(col("id").as("doc_id"),
          explode(sequence(lit(0L), lit(7L))).as("t"))
        .select(col("doc_id"), vec(col("doc_id") * 8 + col("t")).as("dv"))
        .repartition(cpus).persist()
      val corpusToks = dToks.count() // materialize OUTSIDE the timing
      val candToks = dToks.join(
        cands.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
        .count()
      val t0 = System.nanoTime()
      val scored = graft.ops.Retrieval.maxSim(cands, "doc_id", qToks, dToks)
        .count()
      val t = (System.nanoTime() - t0) / 1e9
      dToks.unpersist()
      println(f"""{"tool":"MaxSimScaleBench","scale":$m,""" +
        f""""corpus_tokens":$corpusToks,"candidate_tokens":$candToks,""" +
        f""""scored_pairs":$scored,"maxsim_s":$t%.2f}""")
    }
    spark.stop()
  }
}
