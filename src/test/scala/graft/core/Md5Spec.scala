package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** [[Md5.hex]] against Spark SQL `md5()`, the digest the content-hash
  * oracles (q_curation_pipeline's `md5(text)`) recompute the typed passes
  * with. */
class Md5Spec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private val texts = Seq(
    "",                                  // empty
    "the quick brown fox, 42 times.",    // ASCII
    "naïve café — Grüße, 東京",          // non-ASCII BMP (2- and 3-byte UTF-8)
    "𝔸lpha 😀 and 𐍈 𝄞")      // astral plane (surrogate pairs, 4-byte UTF-8)

  test("Md5.hex equals Spark SQL md5() on empty, ASCII, BMP and astral-plane text") {
    import spark.implicits._
    val sql = texts.toDF("text").select(col("text"), md5(col("text")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // one digest reused across calls, as the per-partition callers do
    val md = java.security.MessageDigest.getInstance("MD5")
    for (t <- texts) assert(Md5.hex(md, t) == sql(t), t)
    assert(Md5.hex(md, "") == "d41d8cd98f00b204e9800998ecf8427e")
  }

  test("Curation.signals content_md5 equals Spark SQL md5(text)") {
    import spark.implicits._
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val pairs = graft.ops.Curation.signals(spark, docs)
      .join(docs.select(col("doc_id"), md5(col("text")).as("sql_md5")), Seq("doc_id"))
      .select("content_md5", "sql_md5").collect()
    assert(pairs.length == texts.size)
    for (r <- pairs) assert(r.getString(0) == r.getString(1))
  }
}
