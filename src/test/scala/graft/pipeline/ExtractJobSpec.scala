package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark
import graft.pages.SyntheticPages

class ExtractJobSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete(); ()
  }

  test("synthetic corpus is deterministic and covers the fixture variants") {
    import spark.implicits._
    val p1 = SyntheticPages.pages(spark, sfDir).collect().sortBy(_.url)
    val p2 = SyntheticPages.pages(spark, sfDir).collect().sortBy(_.url)
    assert(p1.length == 500)
    assert(p1.map(_.url).sameElements(p2.map(_.url)))
    assert(p1.zip(p2).forall { case (a, b) => java.util.Arrays.equals(a.html, b.html) })
    val htmls = p1.map(p => new String(p.html, "UTF-8"))
    assert(htmls.exists(_.contains("<th>Common name</th>")), "th tables present")
    assert(htmls.exists(_.contains("<pre>")), "pre tables present")
    assert(htmls.exists(_.contains("rowspan")), "rowspan tables present")
    assert(htmls.exists(_.contains("data-page=\"2\"")), "multi-page docs present")
    val sizes = htmls.map(_.length)
    assert(sizes.max > 10 * sizes.min, "mega page (skew) present")
  }

  test("extraction: one row per url, all ok, tables found") {
    import spark.implicits._
    val out = ExtractJob.extract(spark, SyntheticPages.pages(spark, sfDir), ExtractJob.Config(buckets = 8))
    val rows = out.collect()
    assert(rows.length == 500)
    assert(rows.forall(_.status == "ok"))
    assert(rows.count(_.n_tables > 0) > 150)
    assert(rows.forall(r => r.main_text.nonEmpty))
    // boilerplate stripped everywhere
    assert(rows.forall(r => !r.main_text.contains("Login portal")))
    // table spans reported alongside tables
    assert(rows.filter(_.n_tables > 0).forall(_.spans.nonEmpty))
    // tables_json is the byte-stable raw writer format
    assert(rows.forall(r => r.tables_json.startsWith("{\"tables\": ")))
  }

  test("per-url output is byte-identical across different bucket counts (partition independence)") {
    import spark.implicits._
    def snapshot(buckets: Int): Map[String, (String, String)] =
      ExtractJob.extract(spark, SyntheticPages.pages(spark, sfDir), ExtractJob.Config(buckets = buckets))
        .collect().map(r => r.url -> ((r.main_text, r.tables_json))).toMap
    val a = snapshot(4)
    val b = snapshot(16)
    assert(a.keySet == b.keySet)
    a.foreach { case (url, payload) => assert(b(url) == payload, s"mismatch at $url") }
  }

  test("run + lineage + resume: killed run restarts only unfinished buckets") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-extract").toString
    val cfg = ExtractJob.Config(buckets = 8)
    val pages = SyntheticPages.pages(spark, sfDir)

    val full = ExtractJob.run(spark, pages, dir, cfg)
    assert(full.pagesProcessed == 500)
    assert(full.bucketsSkipped == 0)
    val fullOut = ExtractJob.readOutput(spark, dir)
      .select("url", "main_text", "tables_json").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1)

    val lineage = spark.read.parquet(s"$dir/_lineage")
    assert(lineage.count() == 8)
    assert(lineage.select("extractor_version").distinct().collect().head.getString(0) == ExtractJob.ExtractorVersion)
    // the folded lineage equals the read-back aggregate of the committed output
    val allBuckets = (0 until 8).toSet
    assert(ReadBackLineage.written(spark, dir, allBuckets) == ReadBackLineage.rows(spark, dir, allBuckets),
      "fresh-run lineage")
    val carried = ReadBackLineage.written(spark, dir, (0 to 5).toSet)

    // simulate a kill after 6 of 8 buckets committed: drop 2 buckets'
    // lineage partitions + their output partitions (the lineage table is
    // partitioned by bucket, so a crash leaves exactly this shape)
    for (b <- 6 to 7; root <- Seq("extracted", "_lineage")) {
      val p = new java.io.File(s"$dir/$root/bucket=$b")
      if (p.exists()) { p.listFiles().foreach(_.delete()); p.delete() }
    }

    val expectedPending = {
      val pending = pages.withColumn("bucket", ExtractJob.bucketOf(col("url"), 8))
        .filter(col("bucket") >= 6)
      pending.count()
    }

    val resumed = ExtractJob.run(spark, pages, dir, cfg)
    assert(resumed.bucketsSkipped == 6)
    assert(resumed.pagesProcessed == expectedPending, "only unfinished buckets re-extracted")

    val resumedOut = ExtractJob.readOutput(spark, dir)
      .select("url", "main_text", "tables_json").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(resumedOut.length == fullOut.length)
    assert(resumedOut.sameElements(fullOut), "resumed output identical to uninterrupted run")
    assert(ReadBackLineage.written(spark, dir, Set(6, 7)) == ReadBackLineage.rows(spark, dir, Set(6, 7)),
      "resumed-run lineage")
    assert(ReadBackLineage.written(spark, dir, (0 to 5).toSet) == carried, "completed buckets' lineage carried over")
  }

  test("resume re-extracts buckets whose lineage carries a stale extractor version") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-extract-version").toString
    val cfg = ExtractJob.Config(buckets = 8)
    val pages = SyntheticPages.pages(spark, sfDir)
    ExtractJob.run(spark, pages, dir, cfg)
    val fullOut = ExtractJob.readOutput(spark, dir)
      .select("url", "main_text").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1)

    def rewriteDir(path: String)(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      val df = f(spark.read.parquet(path)).localCheckpoint()
      rmrf(new java.io.File(path))
      df.write.parquet(path)
    }
    // age bucket 3: stamp its lineage with an older extractor version and
    // tamper its output so re-extraction is observable
    rewriteDir(s"$dir/_lineage/bucket=3")(
      _.withColumn("extractor_version", lit("graft-extract-0.0.0")))
    rewriteDir(s"$dir/extracted/bucket=3")(
      _.withColumn("main_text", lit("TAMPERED")))

    // resume re-extracts exactly the stale bucket and converges the version
    val expectedPending = pages.withColumn("bucket", ExtractJob.bucketOf(col("url"), 8))
      .filter(col("bucket") === 3).count()
    val resumed = ExtractJob.run(spark, pages, dir, cfg)
    assert(resumed.bucketsSkipped == 7)
    assert(resumed.pagesProcessed == expectedPending)
    val lineage = spark.read.parquet(s"$dir/_lineage")
    assert(lineage.count() == 8)
    assert(lineage.select("extractor_version").distinct().collect()
      .map(_.getString(0)).toSeq == Seq(ExtractJob.ExtractorVersion))
    val resumedOut = ExtractJob.readOutput(spark, dir)
      .select("url", "main_text").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    assert(resumedOut.sameElements(fullOut), "stale bucket re-extracted to current-version bytes")
  }

  test("resume over a 0.1.0 FLAT lineage table re-extracts every bucket and leaves only bucket=N dirs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-extract-flat").toString
    val cfg = ExtractJob.Config(buckets = 8)
    val pages = SyntheticPages.pages(spark, sfDir)
    ExtractJob.run(spark, pages, dir, cfg)
    val fresh = committedRows(dir)

    // the on-disk state a 0.1.0 run killed before bucket 7 committed leaves
    writeV010FlatLineage(dir, col("bucket") =!= 7)
    rmrf(new java.io.File(s"$dir/extracted/bucket=7"))

    val resumed = ExtractJob.run(spark, pages, dir, cfg)
    assert(resumed.bucketsSkipped == 0 && resumed.pagesProcessed == 500, "every 0.1.0 bucket is stale")
    assert(committedRows(dir) == fresh)
    assertLineageCurrent(dir)
  }

  test("resume is O(pending): completed-bucket output and lineage are never read or rewritten") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-extract-opending").toString
    val cfg = ExtractJob.Config(buckets = 8)
    val pages = SyntheticPages.pages(spark, sfDir)

    ExtractJob.run(spark, pages, dir, cfg)

    // drop buckets 6-7 (simulated kill), then CORRUPT every committed
    // parquet data file in the completed buckets 0-5 — both output and
    // lineage. If any resume code path opened them (the old implementation
    // re-aggregated the ENTIRE output for lineage and rewrote the whole
    // lineage table), the run would throw on the garbage footers.
    for (b <- 6 to 7; root <- Seq("extracted", "_lineage")) {
      val p = new java.io.File(s"$dir/$root/bucket=$b")
      if (p.exists()) { p.listFiles().foreach(_.delete()); p.delete() }
    }
    val garbage = "not a parquet file".getBytes("UTF-8")
    var corrupted = 0
    for (b <- 0 to 5; root <- Seq("extracted", "_lineage")) {
      val p = new java.io.File(s"$dir/$root/bucket=$b")
      assert(p.exists(), s"$root/bucket=$b missing after full run")
      for (f <- p.listFiles() if f.getName.endsWith(".parquet")) {
        java.nio.file.Files.write(f.toPath, garbage)
        corrupted += 1
      }
    }
    assert(corrupted >= 12, "corruption must cover all completed data files")

    // ... except the lineage BUCKET IDS, which resume legitimately reads to
    // know what is complete. Partition ids live in dir names, but the row
    // payload comes from the files — so restore minimal valid lineage rows
    // for 0-5 (current version, marker urls) to prove they are carried over
    // verbatim, not recomputed from output.
    val marker = (0 to 5).map(b =>
      LineageRow(b, 0L, 0L, 0L, 0L, s"marker-$b", s"marker-$b", ExtractJob.ExtractorVersion)).toDS()
    for (b <- 0 to 5) {
      val p = new java.io.File(s"$dir/_lineage/bucket=$b")
      p.listFiles().foreach(_.delete())
      marker.filter(col("bucket") === b).drop("bucket")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/_lineage/bucket=$b")
      // spark writes _SUCCESS inside the partition dir here; harmless
    }

    val resumed = ExtractJob.run(spark, pages, dir, cfg)
    assert(resumed.bucketsSkipped == 6)

    // completed buckets' lineage rows survived untouched (carried over by
    // dynamic partition overwrite, not recomputed); pending rows are fresh
    val after = spark.read.parquet(s"$dir/_lineage")
    val byBucket = after.collect().map(r =>
      r.getAs[Int]("bucket") -> r.getAs[String]("url_min")).toMap
    assert(byBucket.size == 8)
    for (b <- 0 to 5) assert(byBucket(b) == s"marker-$b", s"lineage bucket $b was rewritten")
    for (b <- 6 to 7) assert(!byBucket(b).startsWith("marker-"), s"lineage bucket $b not fresh")

    // the pending buckets' output is genuinely re-extracted and readable
    val pendingOut = spark.read
      .option("basePath", s"$dir/extracted")
      .parquet(s"$dir/extracted/bucket=6", s"$dir/extracted/bucket=7")
    val expectedPending = pages.withColumn("bucket", ExtractJob.bucketOf(col("url"), 8))
      .filter(col("bucket") >= 6).count()
    assert(pendingOut.count() == expectedPending)
  }

  test("--no-resume run drops a 0.1.0 FLAT lineage table (no mixed layout forms)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-flat-noresume").toString
    val cfg = ExtractJob.Config(buckets = 8)
    val pages = SyntheticPages.pages(spark, sfDir)
    ExtractJob.run(spark, pages, dir, cfg)
    val fresh = committedRows(dir)
    writeV010FlatLineage(dir, lit(true))

    // a no-resume run ignores the lineage for SKIPPING but must still drop
    // the root-level files, or its partitioned write lands next to them and
    // every later reader rejects the mixed layout
    val rerun = ExtractJob.run(spark, pages, dir, cfg.copy(resume = false))
    assert(rerun.pagesProcessed == 500 && rerun.bucketsSkipped == 0)
    assert(committedRows(dir) == fresh)
    assertLineageCurrent(dir)
  }

  test("resume after a kill during the first lineage write: a _lineage holding only .spark-staging counts as absent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lineage-staging").toString
    val cfg = ExtractJob.Config(buckets = 8)
    val pages = SyntheticPages.pages(spark, sfDir)
    ExtractJob.run(spark, pages, dir, cfg)
    val fresh = committedRows(dir)

    // dynamic partition overwrite stages the lineage write under
    // `_lineage/.spark-staging-<job>/`: a kill before its commit leaves that
    // dir and no visible file
    val lineage = new java.io.File(s"$dir/_lineage")
    val staging = new java.io.File(lineage, ".spark-staging-x")
    assert(staging.mkdir() && new java.io.File(lineage, "bucket=1").renameTo(new java.io.File(staging, "bucket=1")))
    lineage.listFiles().filter(_.getName != staging.getName).foreach(rmrf)

    val resumed = ExtractJob.run(spark, pages, dir, cfg)
    assert(resumed.bucketsSkipped == 0 && resumed.pagesProcessed == 500)
    assert(committedRows(dir) == fresh)
    assertLineageCurrent(dir)
  }

  test("lineage stamps only buckets WRITTEN this run: a leftover output dir absent from the input is neither scanned nor re-stamped") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-written-only").toString
    val cfg = ExtractJob.Config(buckets = 8)
    val pages = SyntheticPages.pages(spark, sfDir)
    ExtractJob.run(spark, pages, dir, cfg)

    // make buckets 6 and 7 pending (kill their lineage), then CORRUPT
    // bucket 7's leftover output dir — if the lineage scan selected dirs by
    // not-completed (the pre-accumulator logic) instead of written-this-run,
    // it would open these garbage files and throw
    rmrf(new java.io.File(s"$dir/_lineage/bucket=6"))
    rmrf(new java.io.File(s"$dir/_lineage/bucket=7"))
    val b7 = new java.io.File(s"$dir/extracted/bucket=7")
    for (f <- b7.listFiles() if f.getName.endsWith(".parquet"))
      java.nio.file.Files.write(f.toPath, "not a parquet file".getBytes("UTF-8"))

    // the second run's INPUT is missing bucket 7's pages entirely (an older
    // run produced that dir from a feed this run does not carry)
    val inputNo7 = pages
      .withColumn("bucket", ExtractJob.bucketOf(col("url"), 8))
      .filter(col("bucket") =!= 7)
      .select("url", "warc_ts", "html", "text", "lang")
      .as[Page]
    val expected6 = pages.withColumn("bucket", ExtractJob.bucketOf(col("url"), 8))
      .filter(col("bucket") === 6).count()

    val resumed = ExtractJob.run(spark, inputNo7, dir, cfg)
    assert(resumed.bucketsSkipped == 6)
    assert(resumed.pagesProcessed == expected6, "only bucket 6 re-extracted")

    // bucket 7 was not re-stamped: its lineage row stays absent (the dir's
    // provenance is unknown — stamping it current-version would lie)
    val after = spark.read.parquet(s"$dir/_lineage")
    val stamped = after.select(col("bucket").cast("int")).as[Int].collect().toSet
    assert(stamped == Set(0, 1, 2, 3, 4, 5, 6), s"unexpected lineage buckets: $stamped")
    assert(ReadBackLineage.written(spark, dir, Set(6)) == ReadBackLineage.rows(spark, dir, Set(6)),
      "leftover-dir run lineage")
  }

  test("resume over a lineage table in the older schema (urls, no errors_out), partitioned and flat") {
    import spark.implicits._
    val cfg = ExtractJob.Config(buckets = 8)
    val pages = SyntheticPages.pages(spark, sfDir)
    val expected = ExtractJob.extract(spark, pages, cfg).collect().sortBy(_.url).toSeq
    // what the older code wrote per bucket: `urls` and no `errors_out`
    def olderSchema(dir: String) = spark.read.parquet(s"$dir/_lineage")
      .withColumn("bucket", col("bucket").cast("int"))
      .select(col("rows_out").as("urls"), col("rows_out"), col("tables_out"), col("html_bytes"),
        col("url_min"), col("url_max"), col("extractor_version"), col("bucket"))
      .localCheckpoint()

    // partitioned layout, buckets 6-7 killed: carried rows stay as written
    val parted = java.nio.file.Files.createTempDirectory("graft-older-parted").toString
    ExtractJob.run(spark, pages, parted, cfg)
    val old = olderSchema(parted)
    rmrf(new java.io.File(s"$parted/_lineage"))
    old.filter(col("bucket") < 6).write.partitionBy("bucket").parquet(s"$parted/_lineage")
    rmrf(new java.io.File(s"$parted/extracted/bucket=6"))
    rmrf(new java.io.File(s"$parted/extracted/bucket=7"))
    assert(ExtractJob.run(spark, pages, parted, cfg).bucketsSkipped == 6)
    assert(committedRows(parted) == expected)
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$parted/_lineage")
      .withColumn("bucket", col("bucket").cast("int"))
    val errorsByBucket = merged.select("bucket", "errors_out").as[(Int, Option[Long])].collect().toMap
    assert(errorsByBucket.keySet == (0 until 8).toSet)
    for (b <- 0 to 5) assert(errorsByBucket(b).isEmpty, s"carried bucket $b rewritten")
    assert(ReadBackLineage.written(spark, parted, Set(6, 7)) == ReadBackLineage.rows(spark, parted, Set(6, 7)))

    // the 0.1.0 flat layout (the only code that wrote it was 0.1.0): every
    // bucket is stale, re-extracted and stamped in the current schema
    val flat = java.nio.file.Files.createTempDirectory("graft-older-flat").toString
    ExtractJob.run(spark, pages, flat, cfg)
    writeV010FlatLineage(flat, col("bucket") =!= 7)
    rmrf(new java.io.File(s"$flat/extracted/bucket=7"))
    assert(ExtractJob.run(spark, pages, flat, cfg).bucketsSkipped == 0)
    assert(committedRows(flat) == expected)
    assertLineageCurrent(flat)
    assert(ReadBackLineage.written(spark, flat, (0 until 8).toSet) == ReadBackLineage.rows(spark, flat, (0 until 8).toSet))
    assert(!spark.read.parquet(s"$flat/_lineage").columns.contains("urls"), "no 0.1.0 row is read or kept")
  }

  test("a page with null html yields one error row: html_bytes 0, lineage errors_out 1") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-null-html").toString
    val pages = Seq(Page("https://hostile.example.org/null-html", new java.sql.Timestamp(0L), null, "", "en")).toDS()
    assert(ExtractJob.run(spark, pages, dir, ExtractJob.Config(buckets = 2)).pagesProcessed == 1)
    val rows = committedRows(dir)
    assert(rows.length == 1)
    assert(rows.head.status.startsWith("error:") && rows.head.html_bytes == 0L, rows.head.status)
    assert(spark.read.parquet(s"$dir/_lineage").select("errors_out").as[Long].collect().toSeq == Seq(1L))
  }

  test("a colspan of 2,000,000,000 is clamped: the page yields one ok row") {
    import spark.implicits._
    val html = """<table><tr><td colspan="2000000000">x</td></tr></table>"""
    val pages = Seq(Page("https://hostile.example.org/colspan", new java.sql.Timestamp(0L),
      html.getBytes("UTF-8"), "", "en")).toDS()
    val rows = ExtractJob.extract(spark, pages, ExtractJob.Config(buckets = 2)).collect()
    assert(rows.length == 1)
    assert(rows.head.status == "ok")
    assert(rows.head.n_tables == 1 && rows.head.n_table_rows == 1)
  }

  test("hostile nesting: 10^5-deep <div> and 10^5-deep <table><tr><td> pages each yield one non-error row") {
    import spark.implicits._
    val depth = 100000
    val hostile = Seq(
      "https://hostile.example.org/deep-div" ->
        ("<html><body>" + "<div>" * depth + "bottom text" + "</div>" * depth + "</body></html>"),
      "https://hostile.example.org/deep-table" ->
        ("<html><body>" + "<table><tr><td>" * depth + "bottom cell" +
          "</td></tr></table>" * depth + "</body></html>"))
    val pages = hostile.map { case (url, html) =>
      Page(url, new java.sql.Timestamp(0L), html.getBytes("UTF-8"), "", "en")
    }.toDS()
    val rows = ExtractJob.extract(spark, pages, ExtractJob.Config(buckets = 2))
      .select("url", "status").as[(String, String)].collect()
    assert(rows.map(_._1).sorted.toSeq == hostile.map(_._1).sorted)
    rows.foreach { case (url, status) => assert(!status.startsWith("error:"), s"$url: $status") }
  }

  private def committedRows(dir: String): Seq[ExtractedPage] = {
    import spark.implicits._
    ExtractJob.readOutput(spark, dir).as[ExtractedPage].collect().sortBy(_.url).toSeq
  }

  /** Rewrites `dir`'s lineage as the only code that wrote the flat layout
    * (`graft-extract-0.1.0`) did: one whole-table overwrite with `bucket` a
    * data column at the root, `urls` and no `errors_out`. */
  private def writeV010FlatLineage(dir: String, keep: org.apache.spark.sql.Column): Unit = {
    val flat = spark.read.parquet(s"$dir/_lineage")
      .select(col("bucket").cast("int").as("bucket"), col("rows_out").as("urls"), col("rows_out"),
        col("tables_out"), col("html_bytes"), col("url_min"), col("url_max"),
        lit("graft-extract-0.1.0").as("extractor_version"))
      .filter(keep)
      .localCheckpoint() // sever from the files about to be deleted
    rmrf(new java.io.File(s"$dir/_lineage"))
    flat.write.parquet(s"$dir/_lineage")
  }

  /** `dir`'s lineage holds only `bucket=0`..`bucket=7` dirs (besides hidden
    * and `_` files), every row at the current version. */
  private def assertLineageCurrent(dir: String): Unit = {
    val names = new java.io.File(s"$dir/_lineage").listFiles().map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted.toSeq
    assert(names == (0 until 8).map(b => s"bucket=$b"), names.mkString(","))
    assert(spark.read.parquet(s"$dir/_lineage").select("extractor_version").distinct().collect()
      .map(_.getString(0)).toSeq == Seq(ExtractJob.ExtractorVersion))
  }

  test("page columns are read by name: reordered or extra input columns give the canonical rows (extract and run, fresh and resume)") {
    import spark.implicits._
    val cfg = ExtractJob.Config(buckets = 8)
    val src = java.nio.file.Files.createTempDirectory("graft-by-name").toString + "/pages"
    SyntheticPages.pages(spark, sfDir).write.parquet(src)
    val df = spark.read.parquet(src)
    val canonical = df.select("url", "warc_ts", "html", "text", "lang").as[Page]
    val variants = Seq(
      "lang before text" -> df.select("url", "warc_ts", "html", "lang", "text").as[Page],
      "extra column" -> df.select(col("url"), lit("extra").as("extra"), col("warc_ts"),
        col("html"), col("text"), col("lang")).as[Page])

    val expected = ExtractJob.extract(spark, canonical, cfg).collect().sortBy(_.url).toSeq
    assert(expected.length == 500)
    assert(expected.exists(r => r.lang != ""), "lang carries data the test can check")
    val expectedDir = java.nio.file.Files.createTempDirectory("graft-by-name-canon").toString
    ExtractJob.run(spark, canonical, expectedDir, cfg)
    assert(committedRows(expectedDir) == expected)

    variants.foreach { case (name, pages) =>
      assert(ExtractJob.extract(spark, pages, cfg).collect().sortBy(_.url).toSeq == expected,
        s"extract, $name")

      val fresh = java.nio.file.Files.createTempDirectory("graft-by-name-fresh").toString
      assert(ExtractJob.run(spark, pages, fresh, cfg).pagesProcessed == 500)
      assert(committedRows(fresh) == expected, s"fresh run, $name")

      // resume: buckets 0-5 complete from a canonical run, 6-7 pending
      val resume = java.nio.file.Files.createTempDirectory("graft-by-name-resume").toString
      ExtractJob.run(spark, canonical, resume, cfg)
      for (b <- 6 to 7; root <- Seq("extracted", "_lineage"))
        rmrf(new java.io.File(s"$resume/$root/bucket=$b"))
      assert(ExtractJob.run(spark, pages, resume, cfg).bucketsSkipped == 6)
      assert(committedRows(resume) == expected, s"resume run, $name")
    }
  }

  test("hybrid extraction: unmapped urls equal extract, mapped urls equal extractPage with the mapping, empty sidecar equals extract") {
    import spark.implicits._
    import graft.html.{ColumnMapping, TableMapping, TablesMapping}
    val cfg = ExtractJob.Config(buckets = 8)
    val pages = SyntheticPages.pages(spark, sfDir).localCheckpoint()
    val mapping = TablesMapping(
      tables = List(TableMapping("Mapped species", "none", 1, 1,
        List(ColumnMapping(1, "Scientific Name"), ColumnMapping(0, "Common")))),
      citation = "Mapped Atlas (2031)")
    val urls = pages.select("url").as[String].collect().sorted
    val mappedUrls = urls.zipWithIndex.collect { case (u, i) if i % 3 == 0 => u }.toSet
    val sidecar = mappedUrls.toSeq.map(u => (u, TablesMapping.toJsonString(mapping)))
      .toDF("url", "mapping_json")

    val plain = ExtractJob.extract(spark, pages, cfg).collect().map(r => r.url -> r).toMap
    val hybrid = ExtractJob.extractMappedJoin(spark, pages, sidecar, cfg).collect()
    assert(hybrid.map(_.url).sorted.toSeq == urls.toSeq)

    val byUrl = pages.collect().map(p => p.url -> p).toMap
    val mappedCfg = cfg.copy(settings = cfg.settings.copy(mapping = Some(mapping)))
    hybrid.foreach { r =>
      if (mappedUrls(r.url)) {
        assert(r == ExtractJob.extractPage(byUrl(r.url), plain(r.url).bucket, mappedCfg), r.url)
        assert(r.citation.contains("Mapped Atlas (2031)"), r.url)
      } else assert(r == plain(r.url), r.url)
    }

    val none = sidecar.limit(0)
    assert(ExtractJob.extractMappedJoin(spark, pages, none, cfg).collect().sortBy(_.url).toSeq ==
      plain.values.toSeq.sortBy(_.url))
  }

  test("SparkEntry.entry smoke: rows > 0") {
    assert(graft.SparkEntry.entry(spark).count() == 500)
  }
}
