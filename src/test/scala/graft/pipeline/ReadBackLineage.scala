package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The reference for the lineage `ExtractJob.run` folds in its extraction
  * stage: the read-back aggregation the job used before, which lists the
  * given buckets' committed output directories, scans them and aggregates
  * per bucket. `urls` (`countDistinct(url)`) is no longer a lineage figure
  * and is left out; `errors_out` is aggregated the same way.
  */
object ReadBackLineage {

  def rows(spark: SparkSession, outDir: String, buckets: Set[Int]): Seq[LineageRow] = {
    import spark.implicits._
    val outputPath = s"$outDir/extracted"
    val dirs = new java.io.File(outputPath).listFiles().toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("bucket=") &&
        buckets(d.getName.stripPrefix("bucket=").toInt))
      .map(_.getPath)
    if (dirs.isEmpty) Seq.empty
    else spark.read
      .option("basePath", outputPath)
      .parquet(dirs: _*)
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("rows_out"),
        sum(col("n_tables")).cast("long").as("tables_out"),
        sum(col("html_bytes")).as("html_bytes"),
        sum(when(col("status").startsWith("error:"), 1L).otherwise(0L)).as("errors_out"),
        min(col("url")).as("url_min"),
        max(col("url")).as("url_max"))
      .withColumn("extractor_version", lit(ExtractJob.ExtractorVersion))
      .withColumn("bucket", col("bucket").cast("int"))
      .as[LineageRow]
      .collect().sortBy(_.bucket).toSeq
  }

  /** The lineage rows a run left for `buckets`, read by bucket directory. */
  def written(spark: SparkSession, outDir: String, buckets: Set[Int]): Seq[LineageRow] = {
    import spark.implicits._
    val lineagePath = s"$outDir/_lineage"
    spark.read
      .option("basePath", lineagePath)
      .parquet(buckets.toSeq.sorted.map(b => s"$lineagePath/bucket=$b"): _*)
      .withColumn("bucket", col("bucket").cast("int"))
      .as[LineageRow]
      .collect().sortBy(_.bucket).toSeq
  }
}
