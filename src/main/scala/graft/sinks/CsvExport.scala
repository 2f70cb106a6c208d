package graft.sinks

import graft.core._
import graft.merge.MergedDoc
import org.apache.spark.sql.Dataset

/** K4 csv sink — reference table2csv contract
  * (/root/reference/src/table2csv/__main__.py:8-50): one CSV per
  * (paper, table index), named `<basename>_<tableIdx>.csv`; rows are the
  * flattened fragments with a trailing `$page` column; the header is the
  * union of row columns in first-seen order (pandas DataFrame-from-dicts
  * semantics); reserved merge fields are not data columns.
  *
  * Scale shape: content is computed doc-locally (narrow — each merged doc
  * is KBs) and written from the executors; no collect, no shuffle. On a
  * cluster `outDir` is shared storage; the per-file naming contract is the
  * reference's, not Spark's part-file layout.
  */
object CsvExport {

  /** Minimal-quoting CSV field (python csv.QUOTE_MINIMAL as pandas to_csv). */
  def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def cellText(c: Cell): String = c match {
    case Cell.Null => ""
    case Cell.Str(s) => s
    case m: Cell.Multi => Cell.json(m) // value-with-agreement cells keep their JSON form
  }

  /** The CSV text for one table of a doc (header + data rows + $page). */
  def tableCsv(doc: TableDoc, tableIdx: Int): String = {
    val frags = doc.tables(tableIdx).fragments
    val cols = scala.collection.mutable.LinkedHashSet.empty[String]
    frags.foreach(_.rows.foreach(_.columns.foreach { case (n, _) => cols += n }))
    val names = cols.toVector
    val sb = new java.lang.StringBuilder
    sb.append((names :+ "$page").map(csvField).mkString(",")).append('\n')
    frags.foreach { f =>
      f.rows.foreach { r =>
        val m = r.columns.toMap
        val vals = names.map(n => m.get(n).map(cellText).getOrElse("")) :+ f.page.toString
        sb.append(vals.map(csvField).mkString(",")).append('\n')
      }
    }
    sb.toString
  }

  /** `<paper>.tables.json` → `<paper>`; urls → last path segment;
    * path-hostile characters neutralized so the name is always writable.
    */
  def baseNameOf(docId: String): String = {
    val trimmed = docId.reverse.dropWhile(_ == '/').reverse
    val i = trimmed.lastIndexOf('/')
    val raw = if (i >= 0) trimmed.substring(i + 1) else trimmed
    val safe = raw.replace(".tables.json", "")
      .map(c => if (c == '/' || c == '\\' || c == '\u0000') '_' else c)
    if (safe.isEmpty) "doc" else safe
  }

  /** Write every (doc, table) CSV under outDir; returns files written.
    * Distinct docs sharing a basename (same paper name under different run
    * prefixes) get a short content-stable doc-id hash suffix instead of
    * silently overwriting each other.
    */
  def export(merged: Dataset[MergedDoc], outDir: String): Long = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val spark = merged.sparkSession
    import spark.implicits._
    // duplicate-basename set: tiny in practice (collisions are pathological)
    val dupBases = merged.map(m => CsvExport.baseNameOf(m.doc_id))
      .groupByKey(identity).count().filter(_._2 > 1).map(_._1).collect().toSet
    val bcDups = spark.sparkContext.broadcast(dupBases)
    val acc = spark.sparkContext.longAccumulator("graft.csvFiles")
    merged.foreachPartition { (it: Iterator[MergedDoc]) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.foreach { m =>
        val doc = TableDoc.fromJsonString(m.merged_json)
        val base0 = baseNameOf(m.doc_id)
        val base =
          if (bcDups.value.contains(base0)) s"$base0-${Md5.hex(md, m.doc_id).take(8)}"
          else base0
        doc.tables.indices.foreach { i =>
          val path = java.nio.file.Paths.get(outDir, s"${base}_$i.csv")
          java.nio.file.Files.write(path,
            tableCsv(doc, i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          acc.add(1)
        }
      }
    }
    acc.value
  }
}
