package graftbench

import graft.core.TableDoc
import graft.html.{Extracted, HtmlExtractor, HtmlTokenizer}
import graft.merge.{MergeConfig, MergeJob, MergePipeline, RunDoc}
import graft.pipeline.{ExtractJob, Page}
import graft.stats.Stats

/** The Spark-free kernel pass: each per-record layer called in a plain
  * loop on one thread over a sample of a workload's inputs, so its cost
  * per record is read without Spark. It is also the single-thread
  * baseline for the Spark figures. Each layer first runs `Passes` untimed
  * passes, so every loop is compiled alike (the extractor's own tokenizer
  * call and the counting-sink call are different call sites), then
  * `Passes` timed ones; the median timed pass is reported, and every timed
  * loop is a span under `kernel`. */
object Kernels {
  val SamplePages = 400
  val SampleDocs = 400
  val Passes = 5

  private val threadBean =
    java.lang.management.ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** Token sink that only counts, so the pass times the tokenizer alone. */
  final class CountingSink extends HtmlTokenizer.ByteTokSink {
    var tokens = 0L
    def startTag(name: String, attrs: List[(String, String)], selfClosing: Boolean, pos: Int, endPos: Int): Unit = tokens += 1
    def endTag(name: String, pos: Int, endPos: Int): Unit = tokens += 1
    def text(src: Array[Byte], startB: Int, endB: Int, pos: Int): Unit = tokens += 1
  }

  /** Median over passes of each layer's loop time, in ns. */
  private def passes(tracer: Tracer, layers: Seq[(String, () => Unit)]): Map[String, Double] = {
    val times = layers.map(_._1 -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    for (_ <- 0 until Passes; (_, body) <- layers) body()
    tracer.span("kernel") {
      for (_ <- 0 until Passes; (name, body) <- layers)
        times(name) += tracer.span(s"kernel.$name")(Workload.timeNs(body())).toDouble
    }
    times.map { case (k, v) => k -> Report.median(v.toSeq) }
  }

  def html(pages: Array[Page], tracer: Tracer): Map[String, Double] = {
    val n = pages.length
    val sink = new CountingSink
    val extracted = new Array[Extracted](n)
    val json = new Array[String](n)
    var allocBytes = 0L
    val t = passes(tracer, Seq(
      "tokenize" -> (() => pages.foreach(p => HtmlTokenizer.tokenizeBytesInto(p.html, sink))),
      "extract" -> (() => {
        val a0 = threadBean.getCurrentThreadAllocatedBytes
        var i = 0
        while (i < n) { extracted(i) = HtmlExtractor.extractBytes(pages(i).html); i += 1 }
        allocBytes = threadBean.getCurrentThreadAllocatedBytes - a0
      }),
      "render" -> (() => {
        var i = 0
        while (i < n) {
          json(i) = HtmlExtractor.toRawJson(ExtractJob.fileNameOf(pages(i).url), extracted(i))
          i += 1
        }
      })))
    val tables = extracted.map(_.tables.size.toLong).sum
    val cells = extracted.map(_.tables.map(_.fragment.rows.map(_.columns.size.toLong).sum).sum).sum
    val jsonBytes = json.map(_.getBytes("UTF-8").length.toLong).sum
    Map(
      "html.tokenize_us_per_page" -> t("tokenize") / 1e3 / n,
      // extractBytes runs the tokenizer itself: report its self time
      "html.extract_us_per_page" -> (t("extract") - t("tokenize")) / 1e3 / n,
      "html.alloc_kb_per_page" -> allocBytes / 1024.0 / n,
      "html.tables_per_page" -> tables.toDouble / n,
      "html.cells_per_page" -> cells.toDouble / n,
      "json.render_us_per_page" -> t("render") / 1e3 / n,
      "json.tables_json_bytes_per_page" -> jsonBytes.toDouble / n)
  }

  /** `sample` holds (url, tables_json) of committed extraction rows; each
    * doc merges its real run with the perturbed one, as merge_stats does. */
  def merge(sample: Array[(String, String)], tracer: Tracer): Map[String, Double] = {
    val n = sample.length
    val settings = MergeConfig().toSettings
    val runs = sample.map { case (url, tj) =>
      val a = RunDoc(url, "run-extract", 0, 0, tj)
      (a, MergeJob.perturbRun(a, "run-perturbed", 1))
    }
    val parsed = new Array[List[(TableDoc, Int)]](n)
    val merged = new Array[TableDoc](n)
    var sink = 0L
    val t = passes(tracer, Seq(
      "parse" -> (() => {
        var i = 0
        while (i < n) {
          val (a, b) = runs(i)
          parsed(i) = List(
            (TableDoc.fromJsonString(a.tables_json).copy(uuid = Some(a.run_uuid)), 0),
            (TableDoc.fromJsonString(b.tables_json).copy(uuid = Some(b.run_uuid)), 0))
          i += 1
        }
      }),
      "merge" -> (() => {
        var i = 0
        while (i < n) { merged(i) = MergePipeline.mergeGroup(parsed(i), settings).orNull; i += 1 }
      }),
      "stats" -> (() => {
        var i = 0
        while (i < n) { if (merged(i) != null) sink += Stats.paperStats(sample(i)._1, merged(i)).rows; i += 1 }
      }),
      "render" -> (() => {
        var i = 0
        while (i < n) { if (merged(i) != null) sink += TableDoc.toJsonString(merged(i)).length; i += 1 }
      })))
    Map(
      "json.parse_us_per_doc" -> t("parse") / 1e3 / n,
      "merge.kernel_us_per_doc" -> t("merge") / 1e3 / n,
      "stats.kernel_us_per_doc" -> t("stats") / 1e3 / n,
      "json.merged_render_us_per_doc" -> t("render") / 1e3 / n)
  }
}
