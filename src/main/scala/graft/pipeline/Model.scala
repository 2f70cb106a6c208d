package graft.pipeline

import graft.html.TableSpan

/** Input row contract (BASELINE.json input_hint): one Common-Crawl-style
  * web page.
  */
final case class Page(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** One extraction output row per url (north rule: extracted main text +
  * table spans, byte-identical per url).
  *
  * Deliberately FLAT: tables travel as the byte-stable raw JSON string, not
  * as a nested struct column. Measured: the Catalyst-generated serializer
  * for a 4-level nested table struct exceeds HotSpot's JIT-able method
  * size, leaving tasks interpreted for 50-100x slowdowns; a string +
  * scalars serializer compiles instantly. Relational consumers parse the
  * JSON on demand (graft.core.TableDoc.fromJsonString for order-exact
  * work).
  */
final case class ExtractedPage(
    url: String,
    bucket: Int,
    lang: String,
    main_text: String,
    n_tables: Int,
    n_table_rows: Int,
    tables_json: String,
    spans: Seq[TableSpan],
    citation: Option[String],
    status: String,
    html_bytes: Long)

/** Per-bucket lineage/metrics row (north rule: partition id, url range,
  * rows, bytes, extractor version) — the resume anti-join key source.
  * `errors_out` counts the rows whose `status` starts with `error:`.
  */
final case class LineageRow(
    bucket: Int,
    rows_out: Long,
    tables_out: Long,
    html_bytes: Long,
    errors_out: Long,
    url_min: String,
    url_max: String,
    extractor_version: String)
