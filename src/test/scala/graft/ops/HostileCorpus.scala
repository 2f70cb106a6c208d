package graft.ops

import scala.util.Random

/** Seeded corpora shaped to take a curation run down: line counts, line
  * lengths, repeats and skew far outside a crawl's usual documents. Each
  * corpus is (doc_id, text) rows, text possibly null; nothing is
  * downloaded, and the same seed gives the same bytes.
  */
object HostileCorpus {

  final case class Corpus(name: String, docs: Seq[(Long, String)])

  private def word(r: Random): String =
    Iterator.fill(3 + r.nextInt(8))(('a' + r.nextInt(26)).toChar).mkString

  /** A few lines of ordinary prose: enough tokens for every gate. */
  def normalDoc(r: Random): String =
    Seq.fill(4)(Seq.fill(12)(word(r)).mkString(" ")).mkString("\n")

  /** One doc of `n` newlines (n + 1 empty lines, all one digest) plus one
    * normal doc. */
  def newlines(r: Random, n: Int = 128000): Corpus =
    Corpus(s"$n newlines", Seq(1L -> "\n" * n, 2L -> normalDoc(r)))

  /** Two identical docs of `n` distinct lines: every line has df 2. */
  def twins(r: Random, n: Int = 64000): Corpus = {
    val text = (0 until n).map(i => s"line $i ${word(r)} ${word(r)}").mkString("\n")
    Corpus(s"twin docs of $n lines", Seq(1L -> text, 2L -> text))
  }

  /** One doc of `n` copies of one word: every k-gram window has one key. */
  def oneWord(n: Int = 1000000): Corpus =
    Corpus(s"$n copies of one word", Seq(1L -> Seq.fill(n)("spam").mkString(" ")))

  private val Base64 = ('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9') ++ Seq('+', '/')

  /** One doc that is a single line of about `bytes` bytes: an inlined
    * base64 `data:` URI, one whitespace-free token. */
  def longLine(r: Random, bytes: Int = 50 << 20): Corpus = {
    val sb = new java.lang.StringBuilder(bytes).append("data:image/png;base64,")
    while (sb.length < bytes) sb.append(Base64(r.nextInt(64)))
    Corpus(s"one line of ${bytes >> 20} MB", Seq(1L -> sb.toString))
  }

  private def rows(r: Random, n: Int): Seq[String] = (0 until n).map(i => s"row $i ${word(r)}")

  /** One doc of `n` distinct lines, none repeated. */
  def distinctLines(r: Random, n: Int = 100000): Corpus =
    Corpus(s"$n distinct lines", Seq(1L -> rows(r, n).mkString("\n")))

  /** One doc of `n` distinct lines between two blank lines: `n` lines to
    * keep beside a non-empty removed set. */
  def keptLines(r: Random, n: Int = 100000): Corpus =
    Corpus(s"$n distinct lines between two blank lines",
      Seq(1L -> rows(r, n).mkString("\n", "\n", "\n")))

  /** `n` normal docs that all open with one boilerplate line. */
  def sharedBoilerplate(r: Random, n: Int = 1000): Corpus =
    Corpus(s"$n docs sharing one line",
      (1 to n).map(i => i.toLong -> s"Accept all cookies to continue\n${normalDoc(r)}"))

  /** Null, empty, whitespace-only and blank-line-only docs beside two
    * normal docs. */
  def blanks(r: Random): Corpus =
    Corpus("null, empty and whitespace-only docs", Seq(
      1L -> null, 2L -> "", 3L -> " ", 4L -> "\t \r", 5L -> "\n\n\n", 6L -> " \r\n \n",
      7L -> normalDoc(r), 8L -> normalDoc(r)))
}
