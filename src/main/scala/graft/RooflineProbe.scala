package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

/** Memory-roofline probe for the BENCH.md scaling section: isolates the
  * 8→32-thread efficiency ceiling from Spark entirely.
  *
  * Three measurements, one JSON line:
  *
  *  1. `alloc_bytes_per_page` — bytes allocated per render+extract page
  *     unit (single thread, `com.sun.management.ThreadMXBean`): the
  *     workload's traffic-per-page. Every allocated byte is written at
  *     least once (and surviving bytes are copied again by the GC), so
  *     allocation rate is a lower bound on DRAM write traffic.
  *  2. `extract_pages_per_sec` at T ∈ {2, 8, 32} threads — the IDENTICAL
  *     per-page unit the Bench headline runs (SyntheticPages.renderPage →
  *     UTF-8 encode → ExtractJob.extractPage), driven by plain threads
  *     over a driver-collected doc array: no Spark scheduler, no shuffle,
  *     no codegen — if this curve bends at the same point as the Spark
  *     bench, the ceiling is the memory subsystem, not the engine.
  *  3. `copy_gbps` at the same thread counts — raw System.arraycopy of
  *     2 KB blocks (the extraction's typical object size) through L2-
  *     resident buffers sized to force DRAM traffic: the box's achievable
  *     bandwidth curve for exactly this access pattern.
  *
  * Run under the same sbt javaOptions as Bench (GRAFT_JIT_TIER honored;
  * pin C1 for the deterministic comparison):
  * {{{
  * GRAFT_JIT_TIER=1 sbt "runMain graft.RooflineProbe"
  * }}}
  */
object RooflineProbe {

  private val ThreadCounts = Seq(2, 8, 32)
  private val TotalPages = 48000 // divisible by every thread count
  private val CopyTotalBytes = 16L << 30 // 16 GiB logical copy per level

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Spark is used ONLY to read the doc rows; it is stopped before any
    // measurement so its pools contribute nothing.
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    spark.stop()

    val cfg = graft.pipeline.ExtractJob.Config(buckets = 128)
    val blackhole = new AtomicLong(0)

    // GRAFT_ROOFLINE_MODE=decompose: per-stage allocation breakdown of the
    // page unit (render / +utf8 encode / utf8 decode / byte tokenize /
    // extractBytes / full extractPage)
    // — the map of where the 'alloc_bytes_per_page' budget actually goes.
    if (sys.env.get("GRAFT_ROOFLINE_MODE").contains("decompose")) {
      val tmxD = java.lang.management.ManagementFactory.getThreadMXBean
        .asInstanceOf[com.sun.management.ThreadMXBean]
      val tidD = Thread.currentThread().getId
      val n = docs.length
      def stage(name: String, warm: Int => Long)(f: Int => Long): Unit = {
        var k = 0
        while (k < 2 * n) { blackhole.addAndGet(warm(k % n)); k += 1 }
        val a = tmxD.getThreadAllocatedBytes(tidD)
        val s = System.nanoTime()
        var j = 0
        while (j < n) { blackhole.addAndGet(f(j)); j += 1 }
        val dt = (System.nanoTime() - s) / 1000.0 / n
        val alloc = (tmxD.getThreadAllocatedBytes(tidD) - a) / n
        println(f"[decompose] $name%-14s alloc/page=$alloc%7d B  time/page=$dt%7.1f us")
      }
      def render(i: Int) = {
        val (id, text, lang) = docs(i); graft.pages.SyntheticPages.renderPage(id, text, lang).length.toLong
      }
      def renderEnc(i: Int) = {
        val (id, text, lang) = docs(i)
        graft.pages.SyntheticPages.renderPage(id, text, lang).getBytes(UTF_8).length.toLong
      }
      val pre = docs.map { case (id, text, lang) =>
        graft.pages.SyntheticPages.renderPage(id, text, lang).getBytes(UTF_8) }
      def decode(i: Int) = new String(pre(i), UTF_8).length.toLong
      val noop = new graft.html.HtmlTokenizer.ByteTokSink {
        def startTag(name: String, attrs: List[(String, String)], selfClosing: Boolean, pos: Int, endPos: Int): Unit = ()
        def endTag(name: String, pos: Int, endPos: Int): Unit = ()
        def text(src: Array[Byte], startB: Int, endB: Int, pos: Int): Unit = ()
      }
      def tokenize(i: Int) = {
        graft.html.HtmlTokenizer.tokenizeBytesInto(pre(i), noop)
        pre(i).length.toLong
      }
      def exOnly(i: Int) = graft.html.HtmlExtractor.extractBytes(pre(i)).tables.size.toLong
      stage("render", render)(render)
      stage("render+encode", renderEnc)(renderEnc)
      stage("utf8-decode", decode)(decode)
      stage("tokenize", tokenize)(tokenize)
      stage("extractBytes", exOnly)(exOnly)
      stage("extractPage", pageUnit)(pageUnit)
      return
    }

    def pageUnit(i: Int): Long = {
      val (docId, text, lang) = docs(i % docs.length)
      val vid = docId + (i / docs.length).toLong * 1000003L
      val html = graft.pages.SyntheticPages.renderPage(vid, text, lang)
      val url = f"https://synthetic.example.org/doc/$docId%08d/rep/${i / docs.length}%04d"
      val page = graft.pipeline.Page(url, new java.sql.Timestamp(1735689600000L + vid * 1000L),
        html.getBytes(UTF_8), text, lang)
      val ex = graft.pipeline.ExtractJob.extractPage(page, 0, cfg)
      (ex.main_text.length + ex.tables_json.length + ex.n_table_rows).toLong
    }

    // warm-up: two full passes over the corpus on one thread
    var w = 0
    while (w < 2 * docs.length) { blackhole.addAndGet(pageUnit(w)); w += 1 }

    // 1. allocation per page (single thread, thread-local allocation counter)
    val tmx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val measured = docs.length
    val a0 = tmx.getThreadAllocatedBytes(tid)
    val t0 = System.nanoTime()
    var i = 0
    while (i < measured) { blackhole.addAndGet(pageUnit(i)); i += 1 }
    val oneThreadNsPerPage = (System.nanoTime() - t0).toDouble / measured
    val allocPerPage = (tmx.getThreadAllocatedBytes(tid) - a0).toDouble / measured

    // 2. threaded extraction: same TOTAL work at each level, 3 reps, min
    def extractRate(threads: Int): Double = {
      val per = TotalPages / threads
      val times = (1 to 3).map { _ =>
        val ts = (0 until threads).map { t =>
          new Thread(() => {
            var k = 0
            var acc = 0L
            while (k < per) { acc += pageUnit(t * per + k); k += 1 }
            blackhole.addAndGet(acc)
            ()
          })
        }
        val s = System.nanoTime()
        ts.foreach(_.start()); ts.foreach(_.join())
        (System.nanoTime() - s) / 1e9
      }
      TotalPages / times.min
    }

    // 3. copy bandwidth: per-thread 64 MiB src/dst (far beyond L2, forcing
    // DRAM), 2 KB blocks, same logical bytes per level, 3 reps, max rate
    def copyGbps(threads: Int): Double = {
      val perThread = CopyTotalBytes / threads
      val bufBytes = 64 << 20
      val block = 2048
      val rates = (1 to 3).map { _ =>
        val ts = (0 until threads).map { _ =>
          new Thread(() => {
            val src = new Array[Byte](bufBytes)
            val dst = new Array[Byte](bufBytes)
            var copied = 0L
            var off = 0
            while (copied < perThread) {
              System.arraycopy(src, off, dst, off, block)
              off += block
              if (off + block > bufBytes) off = 0
              copied += block
            }
            blackhole.addAndGet(dst(0).toLong)
            ()
          })
        }
        val s = System.nanoTime()
        ts.foreach(_.start()); ts.foreach(_.join())
        CopyTotalBytes.toDouble / ((System.nanoTime() - s) / 1e9) / 1e9
      }
      rates.max
    }

    val extractRates = ThreadCounts.map(t => t -> extractRate(t))
    val copyRates = ThreadCounts.map(t => t -> copyGbps(t))

    def fmtMap(m: Seq[(Int, Double)]): String =
      m.map { case (t, v) => "\"" + t + "\":" + f"$v%.2f" }.mkString("{", ",", "}")
    def eff(m: Seq[(Int, Double)], a: Int, b: Int): Double = {
      val ma = m.find(_._1 == a).get._2
      val mb = m.find(_._1 == b).get._2
      mb / (ma * (b.toDouble / a))
    }

    val json =
      s"""{"schema":"graft-roofline/1","alloc_bytes_per_page":${f"$allocPerPage%.0f"},""" +
        s""""single_thread_us_per_page":${f"${oneThreadNsPerPage / 1000}%.1f"},""" +
        s""""extract_pages_per_sec":${fmtMap(extractRates)},""" +
        s""""extract_eff_8_32":${f"${eff(extractRates, 8, 32)}%.3f"},""" +
        s""""extract_eff_2_8":${f"${eff(extractRates, 2, 8)}%.3f"},""" +
        s""""copy_gbps":${fmtMap(copyRates)},""" +
        s""""copy_eff_8_32":${f"${eff(copyRates, 8, 32)}%.3f"},""" +
        s""""extract_write_gbps_32":${
          f"${extractRates.last._2 * allocPerPage / 1e9}%.2f"},""" +
        s""""jit_tier":"${sys.env.getOrElse("GRAFT_JIT_TIER", "4")}","blackhole":${blackhole.get() % 97}}"""
    // surface a failed write loudly: a silently-stale roofline_result.json
    // is indistinguishable from a fresh one (the round-3 stale-bench-file
    // misdiagnosis, BENCH.md) — stdout remains the authoritative channel
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("roofline_result.json"), json + "\n")
    catch { case e: Exception =>
      System.err.println(s"[roofline] WARNING: could not write roofline_result.json: $e") }
    println(json)
  }
}
