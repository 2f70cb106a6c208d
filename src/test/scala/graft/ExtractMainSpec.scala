package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.ExtractJob

class ExtractMainSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("arg parsing: flags, defaults, unknowns") {
    val a = ExtractMain.parse(List(
      "--input", "/data/pages", "--out", "/data/run", "--buckets", "512",
      "--no-resume"))
    assert(a.input.contains("/data/pages"))
    assert(a.out.contains("/data/run"))
    assert(a.buckets == 512)
    assert(!a.resume)
    val d = ExtractMain.parse(List("--out", "/x"))
    assert(d.buckets == 4096 && d.resume && d.input.isEmpty)
    assertThrows[IllegalArgumentException](ExtractMain.parse(List("--bogus")))
    // one input path: --input; --synthetic is an unknown arg
    assertThrows[IllegalArgumentException](
      ExtractMain.parse(List("--out", "/x", "--synthetic", "/data/docs:3")))
    // resume has one policy: stale buckets are always re-extracted
    assertThrows[IllegalArgumentException](ExtractMain.parse(List("--out", "/x", "--accept-stale-versions")))
    // a value flag does not take the next flag as its value: `--out
    // --no-resume` must not write to a directory named --no-resume
    val e = intercept[IllegalArgumentException](
      ExtractMain.parse(List("--input", "/data/pages", "--out", "--no-resume")))
    assert(e.getMessage == "--out requires a value")
  }

  test("arg parsing: --buckets rejects non-positive and non-numeric values") {
    assertThrows[IllegalArgumentException](ExtractMain.parse(List("--buckets", "0", "--out", "/x")))
    assertThrows[IllegalArgumentException](ExtractMain.parse(List("--buckets", "-4", "--out", "/x")))
    assertThrows[IllegalArgumentException](ExtractMain.parse(List("--buckets", "many", "--out", "/x")))
  }

  test("applyJobConfs: explicit submitter confs win; unset ones get job defaults") {
    val skewKey = "spark.sql.adaptive.skewJoin.enabled"
    val prevSkew = spark.conf.get(skewKey)
    try {
      // SharedSpark's builder explicitly sets shuffle.partitions=4 — that is
      // a submitter choice recorded in the SparkConf, so the --buckets-based
      // default must NOT override it
      spark.conf.set(skewKey, "true") // runtime value; NOT in the SparkConf
      ExtractMain.applyJobConfs(spark, buckets = 512)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "4",
        "explicit submitter conf was overridden")
      // skewJoin.enabled was never submitted, so the deterministic-layout
      // default applies even though the runtime session had it true
      assert(spark.conf.get(skewKey) == "false")
    } finally spark.conf.set(skewKey, prevSkew)
  }

  test("--input path: by-name projection tolerates extra columns, fails fast on missing ones") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-extractmain").toString
    // a pages table with an EXTRA column, as a real Iceberg-style table would have
    graft.pages.SyntheticPages.pages(spark, "/root/testdata/sf0.001")
      .withColumn("crawl_id", lit("cc-2026-33"))
      .write.parquet(s"$dir/pages")
    val pages = spark.read.parquet(s"$dir/pages")
      .select("url", "warc_ts", "html", "text", "lang").as[graft.pipeline.Page]
    val stats = ExtractJob.run(spark, pages, s"$dir/run", ExtractJob.Config(buckets = 4))
    assert(stats.pagesProcessed == 500)
    assert(spark.read.parquet(s"$dir/run/extracted").count() == 500)

    val missing = spark.read.parquet(s"$dir/pages").drop("lang")
    assertThrows[org.apache.spark.sql.AnalysisException] {
      missing.select("url", "warc_ts", "html", "text", "lang")
    }
  }
}
