package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

class WarcSourceSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def record(recType: String, uri: String, date: String, payload: Array[Byte]): Array[Byte] = {
    val header =
      s"WARC/1.0\r\n" +
        s"WARC-Type: $recType\r\n" +
        (if (uri.nonEmpty) s"WARC-Target-URI: $uri\r\n" else "") +
        s"WARC-Date: $date\r\n" +
        s"WARC-Record-ID: <urn:uuid:test-$recType>\r\n" +
        s"Content-Length: ${payload.length}\r\n" +
        "\r\n"
    header.getBytes(UTF_8) ++ payload ++ "\r\n\r\n".getBytes(UTF_8)
  }

  private def httpResponse(body: String): Array[Byte] =
    ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body).getBytes(UTF_8)

  private def writeWarc(dir: String, name: String, records: Array[Byte]*): String = {
    val p = Paths.get(dir, name)
    Files.write(p, records.flatten.toArray)
    p.toString
  }

  private val html1 = "<html><body><p>alpha page</p></body></html>"
  private val html2 = "<html><body><table><tr><td>x</td></tr></table></body></html>"

  test("reads response and resource records, skips requests, strips HTTP envelope") {
    val dir = Files.createTempDirectory("graft-warc").toString
    writeWarc(dir, "a.warc",
      record("warcinfo", "", "2025-01-01T00:00:00Z", "software: test".getBytes(UTF_8)),
      record("request", "https://ex.org/1", "2025-01-01T00:00:01Z",
        "GET /1 HTTP/1.1\r\n\r\n".getBytes(UTF_8)),
      record("response", "https://ex.org/1", "2025-01-01T00:00:01Z", httpResponse(html1)),
      record("resource", "https://ex.org/2", "2025-01-01T00:00:02Z", html2.getBytes(UTF_8)))
    val df = spark.read.format("warc").load(dir)
    assert(df.schema == WarcSource.Schema)
    val rows = df.orderBy("url").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "https://ex.org/1")
    assert(new String(rows(0).getAs[Array[Byte]]("html"), UTF_8) == html1) // envelope stripped
    assert(rows(0).getTimestamp(1).toInstant.toString == "2025-01-01T00:00:01Z")
    assert(new String(rows(1).getAs[Array[Byte]]("html"), UTF_8) == html2) // resource passthrough
  }

  test("one partition per file; multi-file directory reads in parallel") {
    val dir = Files.createTempDirectory("graft-warc-multi").toString
    (0 until 3).foreach { i =>
      writeWarc(dir, s"part-$i.warc",
        record("response", s"https://ex.org/f$i", "2025-01-01T00:00:00Z", httpResponse(html1)))
    }
    val df = spark.read.format("warc").load(dir)
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 3)
  }

  test("WARC rows feed the extraction pipeline end to end") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-warc-e2e").toString
    writeWarc(dir, "p.warc",
      record("response", "https://ex.org/t", "2025-01-01T00:00:00Z", httpResponse(html2)))
    val pages = spark.read.format("warc").load(dir)
      .select(col("url"), col("warc_ts"),
        col("html"), lit("").as("text"), lit("en").as("lang"))
      .as[graft.pipeline.Page]
    val out = graft.pipeline.ExtractJob.extract(spark, pages).collect()
    assert(out.length == 1)
    assert(out.head.url == "https://ex.org/t")
    assert(out.head.n_tables == 1)
  }

  test(".warc.gz: concatenated per-record gzip members decode transparently") {
    val dir = Files.createTempDirectory("graft-warc-gz").toString
    def gzMember(bytes: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(bytes); gz.close()
      bos.toByteArray
    }
    // the Common-Crawl layout: each record its OWN gzip member, concatenated
    val r1 = gzMember(record("response", "https://ex.org/gz1", "2025-01-01T00:00:00Z", httpResponse(html1)))
    val r2 = gzMember(record("resource", "https://ex.org/gz2", "2025-01-01T00:00:01Z", html2.getBytes(UTF_8)))
    Files.write(Paths.get(dir, "seg.warc.gz"), r1 ++ r2)
    val rows = spark.read.format("warc").load(s"$dir/seg.warc.gz").orderBy("url").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "https://ex.org/gz1")
    assert(new String(rows(0).getAs[Array[Byte]]("html"), UTF_8) == html1)
    assert(new String(rows(1).getAs[Array[Byte]]("html"), UTF_8) == html2)
  }

  test("malformed input: truncated record fails loudly, empty file yields no rows") {
    val dir = Files.createTempDirectory("graft-warc-bad").toString
    Files.write(Paths.get(dir, "empty.warc"), Array.emptyByteArray)
    assert(spark.read.format("warc").load(s"$dir/empty.warc").count() == 0)
    val bad = record("response", "https://ex.org/x", "2025-01-01T00:00:00Z", httpResponse(html1))
      .dropRight(20) // cut into the payload
    Files.write(Paths.get(dir, "trunc.warc"), bad)
    val ex = intercept[org.apache.spark.SparkException] {
      spark.read.format("warc").load(s"$dir/trunc.warc").count()
    }
    assert(ex.getMessage != null)
  }

  test("missing or unparseable WARC-Date yields null warc_ts, not epoch 0") {
    val dir = Files.createTempDirectory("graft-warc-nodate").toString
    val noDate =
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://ex.org/nd\r\n" +
        s"Content-Length: ${httpResponse(html1).length}\r\n\r\n").getBytes(UTF_8) ++
        httpResponse(html1) ++ "\r\n\r\n".getBytes(UTF_8)
    writeWarc(dir, "nd.warc", noDate,
      record("response", "https://ex.org/bad", "not-a-date", httpResponse(html2)))
    val rows = spark.read.format("warc").load(dir)
      .select(col("url"), col("warc_ts")).collect()
    assert(rows.length == 2)
    assert(rows.forall(_.isNullAt(1)))
  }

  test("writer round-trip: warcinfo/request skipped, html bytes and date exact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-warc-writer").toString + "/corpus"
    val ts = new java.sql.Timestamp(1735689600000L + 42000L)
    val pages = Seq(
      graft.pipeline.Page("https://ex.org/a", ts, html1.getBytes(UTF_8), "", "en"),
      graft.pipeline.Page("https://ex.org/b", ts, html2.getBytes(UTF_8), "", "en")).toDS()
    val files = WarcWriter.writeCorpus(spark, pages.repartition(2), dir)
    assert(files.map(_._2).sum == 2L * 2 + files.length) // 2 records/page + warcinfo/file
    assert(files.forall(_._1.endsWith(".warc.gz")))
    val got = spark.read.format("warc").load(dir)
      .select(col("url"), col("warc_ts"), col("html")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime,
        new String(r.getAs[Array[Byte]](2), UTF_8))).sortBy(_._1)
    // only the 2 response records surface; envelope stripped; date round-trips
    assert(got.toSeq == Seq(
      ("https://ex.org/a", ts.getTime, html1),
      ("https://ex.org/b", ts.getTime, html2)))
    // rewrite is idempotent (outDir wiped first)
    WarcWriter.writeCorpus(spark, pages.repartition(1), dir)
    assert(spark.read.format("warc").load(dir).count() == 2)
  }

  test("column pruning: a metadata-only scan reads url without materializing bodies") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-warc-prune").toString + "/corpus"
    val ts = new java.sql.Timestamp(1735689600000L)
    val pages = Seq(
      graft.pipeline.Page("https://ex.org/a", ts, html1.getBytes(UTF_8), "", "en"),
      graft.pipeline.Page("https://ex.org/b", ts, html2.getBytes(UTF_8), "", "en")).toDS()
    WarcWriter.writeCorpus(spark, pages, dir)
    val df = spark.read.format("warc").load(dir).select(col("url"))
    // the projection reaches the scan (pruneColumns), so the reader takes
    // the skip-payload path — page bodies are never buffered
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty && scans.head.output.map(_.name) == Seq("url"),
      df.queryExecution.executedPlan.toString)
    assert(df.collect().map(_.getString(0)).sorted.toSeq
      == Seq("https://ex.org/a", "https://ex.org/b"))
    // pruned-order subset with a different column arrangement still works
    val two = spark.read.format("warc").load(dir)
      .select(col("warc_ts"), col("url")).collect()
    assert(two.forall(r => r.getTimestamp(0).getTime == ts.getTime))
    // direct parser check: skip mode leaves the stream positioned at the
    // next record and returns an empty payload
    val bytes = record("response", "https://ex.org/p", "2025-01-01T00:00:00Z", httpResponse(html1)) ++
      record("response", "https://ex.org/q", "2025-01-01T00:00:00Z", httpResponse(html2))
    val in = new java.io.ByteArrayInputStream(bytes)
    val Some((h1, p1)) = WarcParse.readRecord(in, wantPayload = false)
    assert(h1("warc-target-uri") == "https://ex.org/p" && p1.isEmpty)
    val Some((h2, p2)) = WarcParse.readRecord(in, wantPayload = true)
    assert(h2("warc-target-uri") == "https://ex.org/q")
    assert(new String(p2, UTF_8).endsWith(html2))
  }

  test("streaming: new crawl segments are ingested incrementally, offsets round-trip") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-warc-stream").toString
    val ckpt = Files.createTempDirectory("graft-warc-stream-ckpt").toString
    writeWarc(dir, "seg-001.warc",
      record("response", "https://s.org/1", "2025-01-01T00:00:00Z", httpResponse(html1)))
    val q = spark.readStream.format("warc").load(dir)
      .writeStream.format("memory").queryName("warc_stream")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("warc_stream").count() == 1)
      // two more segments land (one multi-record): only the NEW files read
      writeWarc(dir, "seg-002.warc",
        record("response", "https://s.org/2", "2025-01-01T00:01:00Z", httpResponse(html2)),
        record("request", "https://s.org/2", "2025-01-01T00:01:00Z", "GET /".getBytes(UTF_8)),
        record("response", "https://s.org/3", "2025-01-01T00:02:00Z", httpResponse(html1)))
      q.processAllAvailable()
      val urls = spark.table("warc_stream").select(col("url")).as[String].collect().sorted.toSeq
      assert(urls == Seq("https://s.org/1", "https://s.org/2", "https://s.org/3"))
      // idle trigger with no new files adds nothing
      q.processAllAvailable()
      assert(spark.table("warc_stream").count() == 3)
    } finally q.stop()
    // offset serialization round-trip + batch diff = only unseen files
    val stream = new WarcMicroBatchStream(Map("path" -> dir), WarcSource.Schema)
    val off = stream.latestOffset().asInstanceOf[WarcStreamOffset]
    assert(off.files.map(f => f.substring(f.lastIndexOf('/') + 1)).sorted
      == Vector("seg-001.warc", "seg-002.warc"))
    assert(stream.deserializeOffset(off.json()) == off)
    val parts = stream.planInputPartitions(WarcStreamOffset(Vector(off.files.head)), off)
    assert(parts.length == off.files.length - 1)
  }

  test("streaming WARC feeds the streaming extraction end to end") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-warc-sx").toString
    val ckpt = Files.createTempDirectory("graft-warc-sx-ckpt").toString
    val tableHtml =
      "<html><body><p>A sufficiently long paragraph of page text here.</p>" +
        "<table><tr><th>Common name</th><th>Status</th>" +
        "</tr><tr><td>Lantern Fox</td><td>stable</td></tr></table></body></html>"
    writeWarc(dir, "seg-001.warc",
      record("response", "https://sx.org/1", "2025-01-01T00:00:00Z", httpResponse(tableHtml)))
    // the crawl-ingestion composition: readStream("warc") -> Page -> the
    // fused extraction -> memory sink, micro-batch at a time
    val pages = spark.readStream.format("warc").load(dir)
      .select(col("url"), col("warc_ts"), col("html"))
      .as[(String, java.sql.Timestamp, Array[Byte])]
      .map { case (u, ts, html) => graft.pipeline.Page(u, ts, html, "", "") }
    val extracted = graft.pipeline.ExtractJob.extract(spark, pages, graft.pipeline.ExtractJob.Config(buckets = 4))
    val q = extracted.toDF()
      .select(col("url"), col("n_tables"), col("n_table_rows"))
      .writeStream.format("memory").queryName("warc_sx")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val r1 = spark.table("warc_sx").collect().map(r => (r.getString(0), r.getInt(1))).toSeq
      assert(r1 == Seq(("https://sx.org/1", 1)))
      writeWarc(dir, "seg-002.warc",
        record("response", "https://sx.org/2", "2025-01-01T00:01:00Z", httpResponse(html1)))
      q.processAllAvailable()
      val r2 = spark.table("warc_sx").collect()
        .map(r => (r.getString(0), r.getInt(1))).sortBy(_._1).toSeq
      assert(r2 == Seq(("https://sx.org/1", 1), ("https://sx.org/2", 0)))
    } finally q.stop()
  }

  test("writer round-trip preserves arbitrary BINARY payloads exactly") {
    import spark.implicits._
    // html is a binary column: non-UTF8 bytes, embedded CRLFCRLF sequences
    // and gzip-magic prefixes must all survive Content-Length framing +
    // multi-member gzip + envelope stripping byte-for-byte
    val rnd = new scala.util.Random(42)
    val payloads = Seq(
      Array.tabulate(256)(_.toByte), // every byte value
      "before\r\n\r\nafter".getBytes(UTF_8), // CRLFCRLF inside the body
      Array[Byte](0x1f, 0x8b.toByte, 8, 0), // gzip magic prefix
      Array.fill(4096)(rnd.nextInt().toByte), // bulk random
      Array.emptyByteArray) // empty body
    val ts = new java.sql.Timestamp(1735689600000L)
    val dir = Files.createTempDirectory("graft-warc-bin").toString + "/corpus"
    val pages = payloads.zipWithIndex.map { case (p, i) =>
      graft.pipeline.Page(s"https://bin.org/$i", ts, p, "", "en")
    }.toDS()
    WarcWriter.writeCorpus(spark, pages, dir)
    val got = spark.read.format("warc").load(dir)
      .select(col("url"), col("html")).collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1))).sortBy(_._1)
    assert(got.length == payloads.length)
    got.zipWithIndex.foreach { case ((u, bytes), i) =>
      assert(u == s"https://bin.org/$i")
      assert(java.util.Arrays.equals(bytes, payloads(i)), s"payload $i differs")
    }
  }

  test("writer commit protocol: _SUCCESS marker, no temp residue, reader skips metadata files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-warc-commit").toString + "/corpus"
    val ts = new java.sql.Timestamp(1735689600000L)
    val pages = Seq(
      graft.pipeline.Page("https://ex.org/a", ts, html1.getBytes(UTF_8), "", "en")).toDS()
    WarcWriter.writeCorpus(spark, pages, dir)
    val names = new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    // committed data files + the marker; every _tmp-* attempt file renamed or removed
    assert(names.contains("_SUCCESS"), names.toString)
    assert(!names.exists(_.startsWith("_tmp-")), names.toString)
    assert(WarcWriter.verifySuccess(spark, dir))
    // a stray metadata/partial file is invisible to the reader
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_tmp-part-00099-7"), "garbage".getBytes(UTF_8))
    assert(spark.read.format("warc").load(dir).count() == 1)
    // absence of the marker = partial directory
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_SUCCESS"))
    assert(!WarcWriter.verifySuccess(spark, dir))
  }

  test("record parser: header map, payload bytes, ISO date micros") {
    val in = new java.io.ByteArrayInputStream(
      record("response", "https://ex.org/p", "2025-06-30T12:34:56.789Z", "BODY!".getBytes(UTF_8)))
    val Some((headers, payload)) = WarcParse.readRecord(in)
    assert(headers("warc-type") == "response")
    assert(headers("warc-target-uri") == "https://ex.org/p")
    assert(new String(payload, UTF_8) == "BODY!")
    assert(WarcParse.isoMicros(headers("warc-date")).contains(1751286896789000L))
    assert(WarcParse.isoMicros("not-a-date").isEmpty)
    // next read hits the record separator then EOF
    assert(WarcParse.readRecord(in).isEmpty)
  }
}
