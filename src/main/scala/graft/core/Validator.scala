package graft.core

import org.apache.spark.sql.{Dataset, SparkSession}

/** S13 tablevalidate — reference parity with
  * /root/reference/src/tablevalidate/validate.py:16-29 and
  * /root/reference/src/tablevalidate/__main__.py:9-40.
  *
  * Distributed form: validation is a narrow map over (name, json) rows
  * producing a per-doc report; the CLI's three modes become report
  * projections — `quiet` = any-error boolean (bounded take(1), the
  * fail-fast analog), `all` = the full report, default = report rows up
  * to and including the first error in name order (the sequential CLI
  * stops there).
  */
object Validator {

  /** Status labels exactly as the reference prints them (__main__.py:9-15). */
  val Valid = "VALID"
  val MalformedJson = "MALFORMED JSON"
  val Invalid = "INVALID"

  /** Files the reference CLI always skips (__main__.py:19-20). */
  val SkipFiles: Set[String] = Set("tables.metadata.json", "settings.tablemerge.json")

  final case class ValidationResult(name: String, status: String, error: Option[String])

  /** validate_file — malformed JSON vs schema-invalid are distinct errors:
    * the text must parse as JSON, then read as a TableDoc. Catches ALL
    * non-fatal throwables: a validator that crashes the job on a
    * pathological document defeats its purpose at corpus scale.
    */
  def validateDoc(name: String, json: String): ValidationResult = {
    import scala.util.control.NonFatal
    val malformed =
      try { JVal.parse(json); None }
      catch { case NonFatal(e) => Some(String.valueOf(e.getMessage)) }
    malformed match {
      case Some(msg) => ValidationResult(name, MalformedJson, Some(msg))
      case None =>
        try { TableDoc.fromJsonString(json); ValidationResult(name, Valid, None) }
        catch { case NonFatal(e) => ValidationResult(name, Invalid, Some(String.valueOf(e.getMessage))) }
    }
  }

  /** Full validation report over (name, json) rows, skip-list applied:
    * every file with its status, the `-a/--all` mode. */
  def report(spark: SparkSession, files: Dataset[(String, String)]): Dataset[ValidationResult] = {
    import spark.implicits._
    files
      .filter(f => !SkipFiles.contains(f._1.split('/').last))
      .map { case (name, json) => validateDoc(name, json) }
  }

  /** `-q/--quiet`: exit 1 on the first invalid file, no output. */
  def hasErrors(report: Dataset[ValidationResult]): Boolean =
    report.filter(_.status != Valid).take(1).nonEmpty

  /** default mode: statuses in name order up to and including the first
    * error (the sequential CLI prints VALID lines then stops at the error).
    *
    * Distributed form: one bounded aggregate finds the first error name
    * (`min(name) where status != VALID` — a single row on the driver), then
    * the prefix is a plain distributed filter. Nothing unbounded ever
    * reaches the driver, unlike the naive report.collect() — on an
    * error-free 100×-scale corpus that mode would materialize every row.
    */
  def reportUntilFirstError(report: Dataset[ValidationResult]): Dataset[ValidationResult] = {
    import org.apache.spark.sql.functions.{col, min}
    val spark = report.sparkSession
    import spark.implicits._
    val firstError: Option[String] = report
      .filter(_.status != Valid)
      .agg(min(col("name")))
      .as[Option[String]]
      .head()
    firstError.fold(report)(fe => report.filter(col("name") <= fe))
      .orderBy(col("name"))
  }
}
