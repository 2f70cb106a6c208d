package graft.core

import java.security.MessageDigest

/** Lowercase hex MD5 of a string's UTF-8 bytes: the digest Spark SQL and
  * DuckDB compute as `md5(text)`, so a typed pass and the oracle SQL that
  * mirrors it key documents identically. The caller owns `md` (one per
  * partition on the hot paths), which keeps the call allocation-light: one
  * byte array, one 32-char array, no per-byte formatting.
  */
object Md5 {

  private val HexDigits = "0123456789abcdef".toCharArray

  def hex(md: MessageDigest, text: String): String = {
    md.reset()
    val d = md.digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](2 * d.length)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }
}
