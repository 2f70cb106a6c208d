package graft.pages

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.pipeline.Page

/** Deterministic synthetic Common-Crawl-style page corpus.
  *
  * Renders each row of the driver-provided `documents` table into an HTML
  * page (seeded ONLY by doc_id + text — no wall clock, no RNG state shared
  * across rows), covering the fixture variants from FIXTURES.md §1:
  * bordered th-headed tables, headerless numeric tables, rowspan/colspan,
  * whitespace-aligned <pre> tables, boilerplate-only pages, multi-page
  * documents, a mega page (skew path), and multilingual punctuation edges.
  *
  * Scale note: generation is a narrow map over the documents scan — no
  * shuffle; at 100 TB the same renderer would run against the real Iceberg
  * page table instead.
  */
object SyntheticPages {

  val Vocab: Vector[(String, String, String)] = Vector(
    ("Lantern Fox", "Vulpes lucerna", "stable"),
    ("Glass Frog", "Rana vitrea", "declining"),
    ("Ember Owl", "Bubo prunae", "endangered"),
    ("Mirror Carp", "Cyprinus speculum", "stable"),
    ("Dusk Moth", "Tinea crepusculi", "unknown"),
    ("Señor Ibis", "Eudocimus señorius", "vulnerable"),
    ("Straße Shrew", "Sorex stratae", "stable"),
    ("Café Finch", "Fringilla cafeata", "declining"))

  /** Deterministic positive pseudo-hash, CROSS-ENGINE RECOMPUTABLE: an LCG
    * step mod 2^31-1 followed by the quadratic scramble the poly-hash family
    * already uses (ops/TextKernel.polyHash64). Every intermediate product stays
    * under 2^63, so DuckDB BIGINT arithmetic reproduces it exactly — which
    * is what lets the extraction CONTENT (cell strings, not just counts) be
    * predicted by the SQL oracle (round-3 mix was a 64-bit xorshift needing
    * wrapping multiplication, inexpressible in overflow-checked BIGINT).
    */
  def mix(x: Long): Long = {
    val m = 2147483647L
    val p = ((x % m) * 1103515245L + 12345L) % m
    (p * p % m + p) % m
  }

  def renderPage(docId: Long, text: String, lang: String): String = {
    val sb = new java.lang.StringBuilder(text.length * 2 + 2048)
    val words = text.split(" ")
    val h = mix(docId)

    sb.append("<html><head><title>Document ").append(docId).append("</title>")
    sb.append("<script>var tracker = \"<table>not a table</table>\";</script>")
    sb.append("<style>.x { color: red }</style></head><body>")
    sb.append("<nav><a href=\"/\">Home</a> <a href=\"/archive\">Archive</a> <a href=\"/about\">About this site</a></nav>")
    sb.append("<header><a href=\"/login\">Login portal link</a></header>")
    sb.append("<h1>Synthetic page ").append(docId).append("</h1>")

    // body paragraphs from the document text (kept by the scorer)
    val paraCount = 2 + (h % 3).toInt
    val chunk = math.max(words.length / math.max(paraCount, 1), 1)
    var w = 0
    var para = 0
    while (para < paraCount && w < words.length) {
      val end = math.min(w + chunk, words.length)
      sb.append("<p>").append(words.slice(w, end).mkString(" ")).append("</p>")
      w = end
      para += 1
    }

    val multiPage = docId % 5 == 4
    if (multiPage) sb.append("<div data-page=\"2\"><h2>Second page heading</h2>")

    def tableRows(n: Int, offset: Long): Vector[(String, String, String, String)] =
      (0 until n).toVector.map { i =>
        val (cn, sn, st) = Vocab((mix(docId + offset + i) % Vocab.length).toInt)
        val pop = (mix(docId * 31 + i) % 9000 + 100).toString
        (cn, sn, st, pop)
      }

    if (docId % 3 == 0) {
      sb.append("<p>This is an interesting table:</p>")
      // row COUNT is doc_id-derivable (4 + doc_id%4) AND cell content is
      // mix()-seeded with the 31-bit recomputable hash, so both the
      // structural invariants and the full cell strings are predictable by
      // the DuckDB oracle (extract_invariants / extract_tables_flat)
      val rows = tableRows(4 + (docId % 4).toInt, 7)
      if (docId % 6 == 0) {
        // th-headed bordered table
        sb.append("<table><tr><th>Common name</th><th>Scientific name</th><th>Status</th><th>Estimated population</th></tr>")
        rows.foreach { case (cn, sn, st, pop) =>
          sb.append("<tr><td>").append(cn).append("</td><td>").append(sn)
            .append("</td><td>").append(st).append("</td><td>").append(pop).append("</td></tr>")
        }
        sb.append("</table>")
      } else {
        // headerless numeric-column table
        sb.append("<table>")
        rows.foreach { case (cn, sn, st, pop) =>
          sb.append("<tr><td>").append(cn).append("</td><td>").append(sn)
            .append("</td><td>").append(st).append("</td><td>").append(pop).append("</td></tr>")
        }
        sb.append("</table>")
      }
      if (docId % 9 == 0) {
        // span-resolution table
        sb.append("<table><tr><th>Region</th><th>Group</th><th>Count</th></tr>")
        sb.append("<tr><td rowspan=\"2\">Northern Isles</td><td>birds</td><td>12</td></tr>")
        sb.append("<tr><td colspan=\"2\">mixed ").append(mix(docId + 3) % 100).append("</td></tr>")
        sb.append("</table>")
      }
    }

    if (docId % 7 == 1) {
      sb.append("<pre>\n")
      sb.append("Name            Population   Trend\n")
      tableRows(3, 13).foreach { case (cn, _, st, pop) =>
        sb.append(cn.padTo(16, ' ')).append(pop.padTo(13, ' ')).append(st).append('\n')
      }
      sb.append("</pre>")
    }

    if (multiPage) {
      // continuation table with the SAME th columns on page 2 (compaction target)
      sb.append("<table><tr><th>Common name</th><th>Scientific name</th></tr>")
      tableRows(3, 23).foreach { case (cn, sn, _, _) =>
        sb.append("<tr><td>").append(cn).append("</td><td>").append(sn).append("</td></tr>")
      }
      sb.append("</table></div>")
    }

    // multilingual punctuation edge content
    if (lang != "en") {
      sb.append("<p>Comillas «tipográficas» y guión—largo… ‘señal´e’ suficiente longitud aquí.</p>")
    }

    // mega page: repeat the body text many times (skew path)
    if (docId % 101 == 100) {
      var k = 0
      while (k < 60) {
        sb.append("<p>").append(text).append("</p>")
        k += 1
      }
    }

    sb.append("<footer><a href=\"/tos\">Terms</a> · <a href=\"/privacy\">Privacy</a> · copyright row</footer>")
    sb.append("</body></html>")
    sb.toString
  }

  def urlOf(docId: Long): String = f"https://synthetic.example.org/doc/$docId%08d"

  /** Column-level inverse of [[urlOf]] — the ONE place that knows the url
    * tail is an 8-digit zero-padded doc_id (doc_id >= 10^8 would widen the
    * printf field and break an inverse that hardcodes 8; keeping format
    * and inverse adjacent makes that a one-file change).
    */
  def docIdOfUrl(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.substring
    substring(url, -8, 8).cast("long")
  }

  // memoized source read: repeated spark.read.parquet calls re-run footer/
  // schema planning jobs; the resolved (immutable) DataFrame is reusable.
  // Weakly keyed per session (core.DfCache).
  private def docsDf(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame =
    graft.core.DfCache.get(spark, s"$sfDir/documents.parquet")(
      spark.read.parquet(s"$sfDir/documents.parquet"))

  /** Replicated corpus for throughput benchmarking: `factor` distinct pages
    * per document row (varied content via a per-replica id offset), still
    * fully deterministic. A narrow flatMap — rows never shuffle.
    */
  def pagesReplicated(spark: SparkSession, sfDir: String, factor: Int): Dataset[Page] = {
    import spark.implicits._
    // The source table is tiny but the render+extract downstream is
    // CPU-bound: repartition the doc rows (KBs of text) so parallelism is
    // set by cores, not by the parquet file's rowgroup layout.
    val docs = docsDf(spark, sfDir)
      .select("doc_id", "text", "lang")
      .repartition(spark.sparkContext.defaultParallelism * 2)
      .as[(Long, String, String)]
    docs.flatMap { case (docId, text, lang) =>
      (0 until factor).iterator.map { rep =>
        val vid = docId + rep.toLong * 1000003L
        val html = renderPage(vid, text, lang)
        Page(
          url = f"https://synthetic.example.org/doc/$docId%08d/rep/$rep%04d",
          warc_ts = new java.sql.Timestamp(1735689600000L + vid * 1000L),
          html = html.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          text = text,
          lang = lang)
      }
    }
  }

  /** The synthetic Iceberg-style pages table for a scale-factor dir. */
  def pages(spark: SparkSession, sfDir: String): Dataset[Page] = {
    import spark.implicits._
    val docs = docsDf(spark, sfDir)
      .select("doc_id", "text", "lang")
      .repartition(spark.sparkContext.defaultParallelism * 2)
      .as[(Long, String, String)]
    docs.map { case (docId, text, lang) =>
      val html = renderPage(docId, text, lang)
      Page(
        url = urlOf(docId),
        warc_ts = new java.sql.Timestamp(1735689600000L + docId * 1000L), // 2025-01-01 + docId s
        html = html.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        text = text,
        lang = lang)
    }
  }
}
