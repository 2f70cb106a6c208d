package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession
import graft.pages.SyntheticPages
import graft.pipeline.Page

/** Seeded input generators. Every row is a pure function of (seed, index),
  * so a generator gives the same bytes under any Spark partitioning, and
  * the set-up writes them to parquet before anything is timed.
  */
object Inputs {

  /** The 30-word vocabulary of the sf0.1 `documents` table. */
  val Words: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  /** Language mix of the sf0.1 `documents` table (counts per 5000 docs). */
  private val LangWeights: Vector[(String, Int)] =
    Vector("en" -> 2059, "zh" -> 753, "es" -> 744, "fr" -> 742, "de" -> 702)
  private val LangTotal = LangWeights.map(_._2).sum

  /** splitmix64 finalizer: decorrelates (seed, index, stream) triples. */
  def mix64(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, index: Long, stream: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(mix64(mix64(mix64(seed) ^ index) ^ stream))

  // ---- pages (extract, merge_stats) ----------------------------------

  /** Doc ids of one seed occupy a seed-chosen window, so two seeds render
    * different pages; ids stay below 10^8, the width of the url format. */
  def docBase(seed: Long, pages: Int): Long =
    java.lang.Math.floorMod(mix64(seed), 90000000L / pages) * pages

  def pageText(seed: Long, i: Long): (String, String) = {
    val r = rng(seed, i, 1)
    val n = 8 + r.nextInt(89) // 8..96 words: the sf0.1 text-length range
    val sb = new java.lang.StringBuilder(n * 6)
    var k = 0
    while (k < n) {
      if (k > 0) sb.append(' ')
      sb.append(Words(r.nextInt(Words.length)))
      k += 1
    }
    var pick = r.nextInt(LangTotal)
    val lang = LangWeights.find { case (_, w) => pick -= w; pick < 0 }.get._1
    (sb.toString, lang)
  }

  /** Page `i` of a seed: `SyntheticPages.renderPage` over a vocabulary
    * text. Every 101st doc id is a mega page (the renderer's skew rows). */
  def pageAt(seed: Long, pages: Int, i: Int): Page = {
    val docId = docBase(seed, pages) + i
    val (text, lang) = pageText(seed, i)
    Page(
      url = SyntheticPages.urlOf(docId),
      warc_ts = new java.sql.Timestamp(1735689600000L + docId * 1000L),
      html = SyntheticPages.renderPage(docId, text, lang).getBytes(UTF_8),
      text = text,
      lang = lang)
  }

  def writePages(spark: SparkSession, seed: Long, pages: Int, path: String): Unit = {
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism * 2
    spark.range(0, pages, 1, parts).as[Long]
      .map(i => pageAt(seed, pages, i.toInt))
      .write.mode("overwrite").parquet(path)
  }

  // ---- curation corpus (curate) --------------------------------------

  /** Role of a document in the planted curation corpus. Roles repeat in
    * blocks of 100 indices, so every gate's expected count is a closed
    * form of the corpus size (see [[CurateExpect]]). */
  sealed trait Role
  case object Plain extends Role
  /** Plain, plus one or two shared boilerplate lines. */
  case object WithBoilerplate extends Role
  /** Nothing but boilerplate lines: empty after the line strip. */
  case object AllBoilerplate extends Role
  /** Byte-identical copy of the doc 10 indices later (an [[Original]]). */
  case object ExactCopy extends Role
  /** The last word of every line of the doc 10 indices later replaced. */
  case object NearTwin extends Role
  /** The source of an [[ExactCopy]] or a [[NearTwin]]. */
  case object Original extends Role
  /** Punctuation-heavy: fails the quality gate. */
  case object LowQuality extends Role
  /** First line opens with 10 words of a benchmark item. */
  case object Contaminated extends Role

  def roleOf(i: Int): Role = i % 100 match {
    case r if r < 2 => AllBoilerplate
    case r if r < 5 => ExactCopy
    case r if r < 9 => NearTwin
    case r if r >= 12 && r < 19 => Original
    case r if r >= 20 && r < 25 => LowQuality
    case r if r >= 25 && r < 27 => Contaminated
    case r if r >= 30 && r < 60 => WithBoilerplate
    case _ => Plain
  }

  val BoilerplateLines = 16

  /** Shared boilerplate line `k`: a fixed vocabulary line per seed. */
  def boilerplateLine(seed: Long, k: Int): String = {
    val r = rng(seed, k, 7)
    Iterator.fill(6 + r.nextInt(5))(Words(r.nextInt(Words.length))).mkString(" ")
  }

  /** Distinct body lines of doc `i`: 3-6 lines of 9-14 words, with no
    * word bigram repeated inside the doc (so the repetition gate keeps it)
    * and every line at least 9 tokens (so a near twin covers > 50% of its
    * tokens with shared 8-grams). */
  def bodyLines(seed: Long, i: Int): Vector[Vector[String]] = {
    val r = rng(seed, i, 2)
    val seen = new java.util.HashSet[Long]()
    var prev = -1
    Vector.fill(3 + r.nextInt(4)) {
      Vector.fill(9 + r.nextInt(6)) {
        var w = r.nextInt(Words.length)
        while (prev >= 0 && !seen.add(prev.toLong * Words.length + w))
          w = r.nextInt(Words.length)
        prev = w
        Words(w)
      }
    }
  }

  /** Benchmark (evaluation) item `j`: 12 vocabulary words. */
  def benchItem(seed: Long, j: Int): String = {
    val r = rng(seed, j, 3)
    Iterator.fill(12)(Words(r.nextInt(Words.length))).mkString(" ")
  }

  def docText(seed: Long, i: Int): String = roleOf(i) match {
    case Plain | Original => bodyLines(seed, i).map(_.mkString(" ")).mkString("\n")
    case WithBoilerplate =>
      val lines = bodyLines(seed, i).map(_.mkString(" "))
      val extra = 1 + i % 2
      val withBp = (0 until extra).foldLeft(lines) { (ls, k) =>
        ls.patch((i + k) % (ls.length + 1), Seq(boilerplateLine(seed, (i * 7 + k) % BoilerplateLines)), 0)
      }
      withBp.mkString("\n")
    case AllBoilerplate =>
      (0 until 2 + i % 2).map(k => boilerplateLine(seed, (i * 3 + k) % BoilerplateLines)).mkString("\n")
    case ExactCopy => docText(seed, i + 10)
    case NearTwin =>
      bodyLines(seed, i + 10).map { line =>
        val last = Words.indexOf(line.last)
        (line.init :+ Words((last + 1) % Words.length)).mkString(" ")
      }.mkString("\n")
    case LowQuality =>
      bodyLines(seed, i).map(_.map(_ + "!").mkString(" ")).mkString("\n")
    case Contaminated =>
      val lines = bodyLines(seed, i).map(_.mkString(" "))
      (benchItem(seed, i).split(' ').take(10).mkString(" ") + " " + lines.head) +:
        lines.tail mkString "\n"
  }

  /** Benchmark items: one per contaminated doc (same index), plus as many
    * again that match nothing. */
  def benchItems(seed: Long, docs: Int): Seq[String] = {
    val hit = (0 until docs).filter(roleOf(_) == Contaminated)
    hit.map(benchItem(seed, _)) ++ hit.map(j => benchItem(seed, docs + j))
  }

  def docIdBase(seed: Long): Long = java.lang.Math.floorMod(mix64(seed ^ 0x5eedL), 1000000L) * 1000000L

  def writeCorpus(spark: SparkSession, seed: Long, docs: Int, corpusPath: String, benchPath: String): Unit = {
    import spark.implicits._
    require(docs % 100 == 0, s"corpus size must be a multiple of 100, got $docs")
    val parts = spark.sparkContext.defaultParallelism * 2
    val base = docIdBase(seed)
    spark.range(0, docs, 1, parts).as[Long]
      .map(i => (base + i, docText(seed, i.toInt)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpusPath)
    benchItems(seed, docs).toDF("text").coalesce(1).write.mode("overwrite").parquet(benchPath)
  }
}

/** The six `CurateMain.Stats` counts the planted corpus must produce. */
object CurateExpect {
  def apply(docs: Int): graft.CurateMain.Stats = {
    val blocks = docs / 100L
    val afterStrip = docs - blocks * (2 + 3 + 3) // all-boilerplate, copies + their originals
    graft.CurateMain.Stats(
      inputDocs = docs.toLong,
      afterLineStrip = afterStrip,
      keptQuality = afterStrip - blocks * 5,
      keptSpanGate = afterStrip - blocks * (4 + 4), // twins + their originals
      contaminated = blocks * 2,
      outputDocs = afterStrip - blocks * (5 + 8 + 2))
  }
}
