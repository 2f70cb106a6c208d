package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Curation, Decontaminate, DupSpans, LineDedup}

/** The reference `CurateMain.run`'s stats are checked against: each of
  * the six counts is a direct count of the frame the standalone op
  * computes, built and counted one by one. */
object CurateReference {

  def directStats(spark: SparkSession, corpus: DataFrame, benchmark: DataFrame,
      args: CurateMain.Args): CurateMain.Stats = {
    val intake = corpus.select(col("doc_id"), col("text")).filter(col("text").isNotNull)
    val lined = LineDedup.stripRepeatedLines(intake, args.lineMinDf).filter(col("text") =!= "")
    val quality = Curation.curate(spark, lined).select(col("doc_id"))
    val span = DupSpans.dupCoverage(spark, lined, args.gramK)
      .filter(col("dup_tokens") * 1000 <= col("n_tokens") * args.maxDupPermille)
      .select(col("doc_id"))
    val contam = Decontaminate.contaminationHits(spark, lined, benchmark, args.gramK)
      .select(col("doc_id"))
    val output = lined.join(quality, Seq("doc_id"), "left_semi")
      .join(span, Seq("doc_id"), "left_semi")
      .join(contam, Seq("doc_id"), "left_anti")
    CurateMain.Stats(intake.count(), lined.count(), quality.count(),
      span.count(), contam.count(), output.count())
  }
}
