package graft.merge

import graft.core._

/** Fragment transformers F1–F7 — reference parity with
  * /root/reference/src/tablemerge/fragment_transformer.py.
  */
trait FragmentTransformer {
  def transformFragment(fragment: Fragment): Fragment
}

object FragmentTransformers {

  /** extract_text helper shared by title/leading-number transformers
    * (fragment_transformer.py:55-62,102-108): scalar -> strip; multi ->
    * first non-empty stripped value.
    */
  def extractText(v: Cell): String = v match {
    case Cell.Null => ""
    case Cell.Str(s) => Text.pyStrip(s)
    case Cell.Multi(vs) =>
      vs.map(x => Text.pyStrip(x.value)).find(_.nonEmpty).getOrElse("")
  }
}

/** F1 — always-on, appended last to pretransformers (__main__.py:687). */
object FilterEmptyRowsTransformer extends FragmentTransformer {
  def transformFragment(fragment: Fragment): Fragment =
    fragment.copy(rows = fragment.rows.filterNot(_.isEmpty))
}

/** F2 — drops figure/table caption rows among the first 3 rows
  * (fragment_transformer.py:38-64). Pattern is re.match (anchored at start,
  * case-insensitive, Unicode \s).
  */
object FilterTitleRowsTransformer extends FragmentTransformer {
  private val TitleRe = java.util.regex.Pattern.compile(
    "^((figure|table|figura|tabla)\\s+|fig\\.\\s*)\\d+",
    java.util.regex.Pattern.CASE_INSENSITIVE | java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)

  def isTitleRow(row: RowData): Boolean = {
    val nonEmpty = row.columns.filter { case (_, v) => !v.isEmptyValue }
    if (nonEmpty.isEmpty) false
    else {
      val text =
        if (nonEmpty.size == 1) FragmentTransformers.extractText(nonEmpty.head._2)
        else nonEmpty.map(c => FragmentTransformers.extractText(c._2)).mkString("")
      TitleRe.matcher(Text.pyStrip(text)).lookingAt() // re.match semantics
    }
  }

  def transformFragment(fragment: Fragment): Fragment = {
    val head = fragment.rows.take(3).filterNot(isTitleRow)
    fragment.copy(rows = head ++ fragment.rows.drop(3))
  }
}

/** F4 — strip "N. " prefixes when the first 5 non-empty samples all match
  * and strictly increase (fragment_transformer.py:67-133).
  */
object LeadingRowNumberTransformer extends FragmentTransformer {
  private val LeadingRe = java.util.regex.Pattern.compile("^(\\d+)\\.\\s+",
    java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)

  private def stripLeading(s: String): String = {
    val m = LeadingRe.matcher(s)
    if (m.lookingAt()) s.substring(m.end()) else s
  }

  def shouldStripColumn(column: String, rows: List[RowData]): Boolean = {
    val samples = scala.collection.mutable.ListBuffer.empty[String]
    val it = rows.iterator
    while (it.hasNext && samples.size < 5) {
      val row = it.next()
      row.get(column) match {
        case None | Some(Cell.Null) =>
        case Some(v) if v.isEmptyValue =>
        case Some(v) =>
          val text = FragmentTransformers.extractText(v)
          if (text.nonEmpty) samples += text
      }
    }
    if (samples.size < 2) false
    else {
      val numbers = samples.toList.map { text =>
        val m = LeadingRe.matcher(text)
        if (m.lookingAt()) Some(BigInt(m.group(1))) else None
      }
      numbers.forall(_.isDefined) && {
        val ns = numbers.flatten
        ns.zip(ns.tail).forall { case (a, b) => a < b }
      }
    }
  }

  def transformFragment(fragment: Fragment): Fragment = {
    val columnNames = fragment.columnNames
    val toStrip = columnNames.filter(shouldStripColumn(_, fragment.rows)).toSet
    if (toStrip.isEmpty) fragment
    else fragment.copy(rows = fragment.rows.map { row =>
      row.withColumns(row.columns.map { case (col, v) =>
        if (toStrip.contains(col)) (col, v.mapStrings(stripLeading)) else (col, v)
      })
    })
  }
}

/** F5 — punctuation normalization chain (fragment_transformer.py:145-182);
  * the regex order is load-bearing and reproduced exactly.
  */
object NormalizePunctuationTransformer extends FragmentTransformer {
  import java.util.regex.Pattern
  private val Dash = Pattern.compile("[‐‑‒–—―−]")
  private val Guillemets = Pattern.compile("[«»‹›]")
  private val DoubleQuotes = Pattern.compile("[“”]")
  private val SingleQuotes = Pattern.compile("[‘’´`ʹʻʼʽ′‵]")
  private val VowelAcute = Pattern.compile("([aeiouAEIOU])´")
  private val TrailingDot = Pattern.compile("^(.*\\S{5,})\\.$", Pattern.UNICODE_CHARACTER_CLASS)
  private val Ellipsis = Pattern.compile("…")

  def normalize(text0: String): String = {
    var text = Dash.matcher(text0).replaceAll("-")
    text = Guillemets.matcher(text).replaceAll("")
    text = DoubleQuotes.matcher(text).replaceAll("\"")
    text = text.replace("\"", "'")
    // vowel + acute accent -> NFC-combined char when one exists
    text = {
      val m = VowelAcute.matcher(text)
      val sb = new java.lang.StringBuilder
      var last = 0
      while (m.find()) {
        sb.append(text, last, m.start())
        val combined = java.text.Normalizer.normalize(m.group(1) + "́", java.text.Normalizer.Form.NFC)
        sb.append(if (combined.length == 1) combined else m.group(0))
        last = m.end()
      }
      sb.append(text, last, text.length)
      sb.toString
    }
    text = SingleQuotes.matcher(text).replaceAll("'")
    val tm = TrailingDot.matcher(text)
    if (tm.find() && tm.start() == 0) text = tm.group(1)
    text = Ellipsis.matcher(text).replaceAll("...")
    text
  }

  def transformFragment(fragment: Fragment): Fragment =
    fragment.copy(rows = fragment.rows.map(r =>
      r.withColumns(r.columns.map { case (k, v) => (k, v.mapStrings(normalize)) })))
}

/** F3 — header-row removal (runs as a POSTtransformer; __main__.py:265-267). */
final class FilterHeaderRowsTransformer(hints: List[String] = Nil) extends FragmentTransformer {
  def transformFragment(fragment: Fragment): Fragment =
    fragment.copy(rows = fragment.rows.filterNot(MergeOps.isHeaderRow(_, hints)))
}

/** F6 — reverse every cell, keep iff the known-word score improves
  * (fragment_transformer.py:325-380). The reference's scorer counts tokens
  * `w` with `len(text) > 2` (sic — the whole text, reproduced) whose
  * lowercase form is a known vocabulary word.
  */
object FragmentValuesReverser extends FragmentTransformer {
  private def countKnownWords(text: String): Int =
    if (text.length <= 2) 0
    else text.split("\\s+").count(w => SemanticScorer.KnownWords.contains(w.toLowerCase(java.util.Locale.ROOT)))

  private def cellScore(v: Cell): Int = v match {
    case Cell.Null => 0
    case Cell.Str(s) => countKnownWords(s)
    case Cell.Multi(vs) => vs.map(x => countKnownWords(x.value)).sum
  }

  private def fragmentScore(f: Fragment): Int =
    f.rows.map(_.columns.map(c => cellScore(c._2)).sum).sum

  def transformFragment(fragment: Fragment): Fragment = {
    val reversed = fragment.copy(rows = fragment.rows.map(r =>
      r.withColumns(r.columns.map { case (k, v) => (k, v.mapStrings(_.reverse)) })))
    if (fragmentScore(reversed) > fragmentScore(fragment)) reversed else fragment
  }
}

/** F7 — split conjunction-named columns `a_and_b` into two, choosing the
  * per-cell token split point that maximizes summed similarity to the two
  * new headers (fragment_transformer.py:196-322; deterministic scorer
  * instead of spaCy).
  */
final class SplitColumnTransformer(language: String = "en") extends FragmentTransformer {
  private val conjunctions: Set[String] = language match {
    case "en" => Set("and", "or")
    case "es" => Set("y", "e", "o")
    case _ => Set.empty
  }

  def findConjunctionSplit(columnName: String): Option[(String, String)] = {
    val tokens = columnName.split("_", -1)
    var i = 0
    var res: Option[(String, String)] = None
    while (i < tokens.length && res.isEmpty) {
      if (conjunctions.contains(tokens(i).toLowerCase(java.util.Locale.ROOT)) && i > 0 && i < tokens.length - 1)
        res = Some((tokens.take(i).mkString("_"), tokens.drop(i + 1).mkString("_")))
      i += 1
    }
    res
  }

  private def normalizeSplitPart(text0: String): String = {
    var text = text0.dropWhile(c => c == ' ' || c == '-').reverse.dropWhile(c => c == ' ' || c == '-').reverse
    if (text.startsWith("(") && text.endsWith(")") && text.length >= 2)
      text = Text.pyStrip(text.substring(1, text.length - 1))
    text
  }

  def splitCellValue(value: String, leftHeader: String, rightHeader: String): (String, String) = {
    val tokens = value.split("\\s+").filter(_.nonEmpty)
    if (tokens.length <= 1) return (value, "")
    var bestScore = -1.0
    var bestIndex = 1
    var i = 1
    while (i < tokens.length) {
      val left = tokens.take(i).mkString(" ")
      val right = tokens.drop(i).mkString(" ")
      val score = SemanticScorer.similarity(leftHeader, left) + SemanticScorer.similarity(rightHeader, right)
      if (score > bestScore) { bestScore = score; bestIndex = i }
      i += 1
    }
    (normalizeSplitPart(tokens.take(bestIndex).mkString(" ")),
      normalizeSplitPart(tokens.drop(bestIndex).mkString(" ")))
  }

  private def splitColumnValue(v: Cell, lh: String, rh: String): (Cell, Cell) = v match {
    case Cell.Null => (Cell.Null, Cell.Null)
    case Cell.Str(s) =>
      val (l, r) = splitCellValue(s, lh, rh)
      (Cell.Str(l), Cell.Str(r))
    case Cell.Multi(vs) =>
      val pairs = vs.map(e => (splitCellValue(e.value, lh, rh), e.agreementLevel))
      (Cell.Multi(pairs.map { case ((l, _), a) => ValueWithAgreement(l, a) }),
        Cell.Multi(pairs.map { case ((_, r), a) => ValueWithAgreement(r, a) }))
  }

  def transformFragment(fragment: Fragment): Fragment = {
    val columnNames = fragment.columnNames
    val splits = columnNames.flatMap(c => findConjunctionSplit(c).map(c -> _)).toMap
    if (splits.isEmpty) return fragment
    val headerTexts = splits.map { case (col, (l, r)) =>
      col -> ((l.replace("_", " "), r.replace("_", " ")))
    }
    fragment.copy(rows = fragment.rows.map { row =>
      val b = new RowBuilder
      row.columns.foreach { case (col, value) =>
        splits.get(col) match {
          case Some((leftHeader, rightHeader)) =>
            val (lh, rh) = headerTexts(col)
            val (lv, rv) = splitColumnValue(value, lh, rh)
            b.put(leftHeader, lv)
            b.put(rightHeader, rv)
          case None => b.put(col, value)
        }
      }
      row.withColumns(b.result())
    })
  }
}
