package graft.html

/** The extractor specs' entry: [[HtmlExtractor.extractBytes]] on the UTF-8
  * encoding of a page written as a string.
  */
object StringExtract {
  def extract(html: String, settings: ExtractSettings = ExtractSettings()): Extracted =
    HtmlExtractor.extractBytes(html.getBytes(java.nio.charset.StandardCharsets.UTF_8), settings)
}
