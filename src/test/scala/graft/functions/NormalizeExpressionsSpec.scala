package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim.{column, expression}
import graft.SharedSpark
import graft.core.Text

class NormalizeExpressionsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private val samples = Seq(
    "  Hello   World ", "Estimated  Population (2)", "em—dash", "(cid:233)x",
    "No Data", "Straße Señor", "café", "", "normal")

  private def normalizeStr(c: Column): Column = column(NormalizeStr(expression(c)))

  /** Runs `f` on a freshly built session with [[GraftExtensions]] applied.
    * Extensions apply at SparkSession BUILD time. `spark.sql.extensions` is
    * a STATIC conf — honored only for the FIRST session of a context (the
    * spark-submit --conf path) — so in-JVM the builder's withExtensions
    * hook is the deterministic equivalent: same GraftExtensions class,
    * same injection point.
    */
  private def withExtensions(f: SparkSession => Unit): Unit = {
    spark // the shared context the fresh session attaches to
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      f(SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate())
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("native expressions agree with the Scala functions (codegen path)") {
    import spark.implicits._
    val df = samples.toDF("s").repartition(2)
    val out = df.select(
      col("s"),
      normalizeStr(col("s")).as("ns"),
      column(NormalizeColumnName(expression(col("s")))).as("ncn"),
      column(NormalizeColumnValue(expression(col("s")))).as("ncv"),
      column(Transliterate(expression(col("s")))).as("tl")
    ).collect()
    out.foreach { r =>
      val s = r.getString(0)
      assert(r.getString(1) == Text.normalizeStr(s))
      assert(r.getString(2) == Text.normalizeColumnName(s))
      assert(r.getString(3) == Text.normalizeColumnValue(s))
      assert(r.getString(4) == Text.transliterate(s))
    }
  }

  test("poly_hash native expression matches the Scala hash (incl. unicode + astral)") {
    import spark.implicits._
    val vals = Seq("0", "12345", ":split", "a b c", "Straße", "née😀x", "")
    val out = vals.toDF("s").repartition(2)
      .select(col("s"), GraftFunctions.poly_hash(col("s")).as("h")).collect()
    out.foreach { r =>
      assert(r.getLong(1) == graft.ops.TextKernel.polyHash(r.getString(0)),
        s"mismatch for '${r.getString(0)}'")
    }
    // the Column-API twin delegates to the same expression
    val viaCol = vals.toDF("s")
      .select(GraftFunctions.poly_hash(col("s"))).collect().map(_.getLong(0)).toSeq
    assert(viaCol == vals.map(graft.ops.TextKernel.polyHash))
    // SQL surface
    withExtensions { s2 =>
      assert(s2.sql("SELECT graft_poly_hash('12345') AS h").collect().head.getLong(0)
        == graft.ops.TextKernel.polyHash("12345"))
      // ExpectsInputTypes: a BIGINT argument implicit-casts to string at
      // analysis time (previously a codegen/eval-time ClassCastException)
      assert(s2.sql("SELECT graft_poly_hash(12345) AS h").collect().head.getLong(0)
        == graft.ops.TextKernel.polyHash("12345"))
    }
  }

  test("null propagates (null-intolerant unary)") {
    import spark.implicits._
    val df = Seq(Some("x"), None).toDF("s")
    val out = df.select(normalizeStr(col("s"))).collect()
    assert(out.count(_.isNullAt(0)) == 1)
  }

  test("SQL registration works") {
    withExtensions { s2 =>
      val r = s2.sql("SELECT graft_normalize_column_name('Estimated  Population (2)') AS c").collect()
      assert(r.head.getString(0) == "estimated_population_2")
    }
  }

  test("GraftExtensions injects the functions into a freshly-built session") {
    withExtensions { s2 =>
      // normalize_str folds dashes + collapses whitespace but does NOT
      // lowercase (that's normalize_column_value)
      val r = s2.sql("SELECT graft_normalize_str('  Perez–Vílchez  2020 ') AS n").collect()
      assert(r.head.getString(0) == "Perez-Vílchez 2020")
      val d = s2.sql("DESCRIBE FUNCTION graft_transliterate").collect().map(_.getString(0)).mkString("\n")
      assert(d.contains("graft_transliterate"))
    }
  }

  test("expression stays inside WholeStageCodegen (no UDF fallback)") {
    // needs a real scan: literal inputs get constant-folded to a
    // LocalTableScan (which itself shows the expression is optimizer-native)
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(normalizeStr(col("text")).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    // "*(1)" prefixes mark WholeStageCodegen spans in the simple plan form
    assert(plan.contains("*(1) Project [graft_normalize_str"), plan)
    // column pruning reached the parquet scan
    assert(plan.contains("ReadSchema: struct<text:string>"), plan)
    df.count() // and it executes through the codegen path

    // same for the poly hash — the sampling hot path must show a direct
    // codegen'd call, not the former per-row HOF aggregate chain
    val ph = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(GraftFunctions.poly_hash(col("doc_id").cast("string")).as("h"))
    val phPlan = ph.queryExecution.executedPlan.toString
    assert(phPlan.contains("*(1) Project [graft_poly_hash"), phPlan)
    assert(!phPlan.contains("aggregate("), phPlan)
    ph.count()
  }
}
