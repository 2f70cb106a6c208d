package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** Focused tests for the round-7 optimization internals: the conditional
  * scan-parallelism guard ([[Spread]]) and the typed gram-digest fast path
  * ([[DupSpans.gramDigestRows]]) — both must change PLANS, never VALUES.
  */
class SpreadSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("spread fires on a small scan-shaped input (REPARTITION_BY_COL in plan)") {
    val p = Spread.spread(docs.select(col("doc_id"), col("text")))
      .queryExecution.executedPlan.toString
    assert(p.contains("REPARTITION_BY_COL"), p)
  }

  test("spread is a no-op past an aggregation (non-scan-shaped plan)") {
    val agged = docs.groupBy(col("doc_id")).agg(first(col("text")).as("text"))
    val p = Spread.spread(agged).queryExecution.executedPlan.toString
    assert(!p.contains("REPARTITION_BY_COL"), p)
  }

  test("spread is a no-op when the scan estimate exceeds 8 MB per core") {
    def spreads(rows: Long): Boolean = Spread.spread(spark.range(rows)
      .select(col("id").as("doc_id"), col("id").cast("string").as("text")))
      .queryExecution.executedPlan.toString.contains("REPARTITION_BY_COL")
    assert(spreads(1000L), "a small range is spread")
    assert(!spreads(1L << 40), "an 8 TB range estimate is not")
  }

  test("spread allows narrow generators over scans (the replicated-corpus shape)") {
    val repl = docs.select(col("doc_id"), col("text"))
      .withColumn("rep", explode(sequence(lit(0), lit(3))))
      .select((col("doc_id") * 4 + col("rep")).as("doc_id"), col("text"))
    val p = Spread.spread(repl).queryExecution.executedPlan.toString
    assert(p.contains("REPARTITION_BY_COL"), p)
  }

  test("shareIfComplex pins complex subtrees and passes scans through") {
    val scan = docs.select(col("doc_id"), col("text"))
    assert(!Spread.shareIfComplex(scan).queryExecution.executedPlan.toString
      .contains("REPARTITION_BY_COL"))
    // complex subtree partitioned by a DIFFERENT key (text), so the doc_id
    // pin is not redundant; a pin over an already doc_id-partitioned
    // aggregate is correctly elided by EnsureRequirements — the exchange to
    // share then IS the aggregate's own
    val complex = docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n"))
    assert(Spread.shareIfComplex(complex).queryExecution.executedPlan.toString
      .contains("REPARTITION_BY_COL"))
  }

  test("spread changes row placement only: identical result multiset") {
    val base = docs.select(col("doc_id"), col("text"))
    val a = base.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val b = Spread.spread(base).collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("shingleHashRows == sorted-distinct hash64 over shinglesOf (value equivalence pin)") {
    // the streamed gram-hash path must produce exactly the hash64 values of
    // the materialized gram strings (same char stream incl. multi-byte
    // UTF-8, same seed), deduplicated — order-insensitive downstream (the
    // verify join only takes array_intersect/array_union sizes)
    import spark.implicits._
    val df = Seq(
      (1L, "aa bb cc dd aa bb cc"),
      (2L, "  Straße  Señor bb cc dd  "),
      (3L, "aa"), // shorter than n -> single joined gram
      (4L, ""), // empty -> single empty gram
      (5L, "señora STRASSE aa bb cc dd ee aa bb cc dd ee")).toDF("doc_id", "text")
    val typed = Dedup.shingleHashRows(spark, df, 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    df.collect().foreach { r =>
      val expected = Dedup.shinglesOf(r.getString(1), 3)
        .map(TextKernel.hash64(_, 0x5EED5EED5EEDL)).distinct.sorted.toSeq
      assert(typed(r.getLong(0)) == expected, s"doc ${r.getLong(0)}")
    }
  }

  test("bandHashRows == reference min-over-seeded-gram-hashes per band (value pin)") {
    // reference built from PUBLIC pieces: permutation i of gram g is
    // EXACTLY hash64(g, i*phi) — the streamed multi-state fold must not
    // change a single signature value (the recall==exact oracles pin the
    // hash family). Duplicate grams are exercised (doc 1) — min is
    // duplicate-insensitive, so dropping the distinct cannot change it.
    import spark.implicits._
    import Dedup.{Bands, NumHashes, ShingleSize}
    val df = Seq(
      (1L, "aa bb cc dd aa bb cc dd"),
      (2L, "Straße Señor bb"),
      (3L, "xx")).toDF("doc_id", "text")
    val got = Dedup.bandHashRows(spark, df)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val rowsPerBand = NumHashes / Bands
    df.collect().foreach { r =>
      val grams = Dedup.shinglesOf(r.getString(1), ShingleSize)
      val mins = (0 until NumHashes).map { i =>
        grams.map(g => TextKernel.hash64(g, i * 0x9E3779B97F4A7C15L)).min
      }
      (0 until Bands).foreach { b =>
        var h = 0xcbf29ce484222325L ^ b.toLong
        (b * rowsPerBand until (b + 1) * rowsPerBand).foreach { i =>
          h ^= mins(i); h *= 0x100000001b3L
        }
        assert(got((r.getLong(0), b)) == h, s"doc ${r.getLong(0)} band $b")
      }
    }
  }

  test("gramDigestRows == unhex(md5(gram)) over gramPositionRows (value equivalence pin)") {
    // the typed MD5-over-token-bytes path must be byte-identical to the
    // Column md5 of the space-joined gram text, including multi-byte UTF-8
    import spark.implicits._
    val df = Seq(
      (1L, "aa bb cc dd aa bb cc"),
      (2L, "  Straße  Señor bb cc dd  "),
      (3L, "aa"), // shorter than k -> no grams
      (4L, "señora STRASSE aa bb cc dd ee")).toDF("doc_id", "text")
    val typed = DupSpans.gramDigestRows(spark, df, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]](2).toSeq)).toSet
    val column = OpsReferences.gramPositionRows(spark, df, 3)
      .select(col("doc_id"), col("pos"), unhex(md5(col("gram"))).as("g"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]](2).toSeq)).toSet
    assert(typed == column)
    assert(typed.nonEmpty && !typed.exists(_._1 == 3L))
  }
}
