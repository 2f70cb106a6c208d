package graft.core

/** Shared helpers for the spark-submit entrypoints ([[graft.ExtractMain]],
  * [[graft.CurateMain]]) so the parse/validate/emit skeleton has one
  * implementation to keep correct.
  */
private[graft] object Cli {

  /** `argv` itself, once its head is checked: a value flag (one of
    * `valueFlags`) must be followed by a value, and a next token that is
    * itself a flag is not one — `--out --no-resume` must not write to a
    * directory named `--no-resume` with resume still on.
    */
  def checked(valueFlags: Set[String], argv: List[String]): List[String] = argv match {
    case flag :: rest if valueFlags(flag) && rest.headOption.forall(_.startsWith("--")) =>
      throw new IllegalArgumentException(s"$flag requires a value")
    case _ => argv
  }

  def positiveInt(flag: String, v: String): Int = {
    val n = try v.toInt catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"$flag expects a positive integer, got: $v")
    }
    if (n <= 0) throw new IllegalArgumentException(s"$flag must be positive, got: $v")
    n
  }

  /** Locale.ROOT number rendering to 3 decimals: the f-interpolator
    * formats via the JVM default locale, and a comma-decimal cluster image
    * (de_DE, fr_FR) would emit `"wall_sec":4,283` — invalid JSON.
    */
  def jsonNum(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
}
