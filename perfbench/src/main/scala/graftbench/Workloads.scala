package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.CurateMain
import graft.merge.{MergeConfig, MergeJob, RunDoc}
import graft.pipeline.{ExtractJob, Page}
import graft.stats.Stats

/** How an iteration wraps its calls into a layer: untraced, or in a span
  * whose Spark jobs the [[Ledger]] files under it. */
trait Probe {
  def span[A](name: String)(f: => A): A
}

object NoProbe extends Probe {
  def span[A](name: String)(f: => A): A = f
}

final class TracingProbe(tracer: Tracer, ledger: Ledger) extends Probe {
  def span[A](name: String)(f: => A): A =
    tracer.span(name, ledger.open, ledger.close)(f)
}

/** Outcome of one iteration's output check. */
final case class Check(errors: Seq[String], failedDocs: Long, digest: String)

final case class Ctx(spark: SparkSession, seed: Long)

/** One benchmark workload: inputs built in set-up, a timed closed-loop
  * iteration that calls the library's public entry functions, and an
  * untimed output check. */
trait Workload {
  def name: String
  /** Documents one iteration completes. */
  def docs: Long
  /** Generates the seeded inputs under `dir`; the last call's are used. */
  def prepare(dir: String): Unit
  /** Set-up after the inputs exist, run once. */
  def derive(): Unit = ()
  /** The timed part of an iteration, writing under `out`. */
  def run(out: String, probe: Probe): Unit
  /** Checks the last `run` against the counts it returned itself, without
    * reading its output back; the errors, empty if it is correct. */
  def quickCheck(): Seq[String]
  /** Checks the output of the last `run`, read back from `out`, including
    * everything [[quickCheck]] checks. */
  def check(out: String): Check
  /** Frees what the last `run` left in the session, after any check. */
  def release(): Unit = ()
  /** Spark-free single-thread kernel metrics over a seeded input sample. */
  def kernel(tracer: Tracer): Map[String, Double]
  /** Per-layer figures only the workload knows, for a traced iteration. */
  def traceExtras(): Map[String, Double] = Map.empty
}

object Workload {
  /** Pages per extraction input. */
  val Pages = 30000
  /** Pages whose extraction is the merge input. */
  val MergePages = 10000
  /** Documents in the curation corpus. */
  val CorpusDocs = 2000
  /** url-hash buckets of the extraction (shuffle partitions follow it, as
    * `ExtractMain` sets them). */
  val Buckets = 16

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "extract" => new ExtractWorkload(ctx)
    case "merge_stats" => new MergeStatsWorkload(ctx)
    case "curate" => new CurateWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** The output digest is order-insensitive: the row count plus the sum of
    * per-row xxhash64 values over all columns, mod 2^64. This is the sum,
    * to aggregate alongside the other checks; [[digestOf]] formats it. */
  def digestSum(df: DataFrame): Column =
    sum(xxhash64(df.columns.sortBy(identity).map(col): _*).cast("decimal(38,0)"))

  /** Digest from a row holding the row count at `i` and the sum at `i + 1`. */
  def digestOf(r: Row, i: Int): String = {
    val s = Option(r.getDecimal(i + 1)).map(_.toBigInteger).getOrElse(java.math.BigInteger.ZERO)
    f"${r.getLong(i)}-${s.mod(java.math.BigInteger.ONE.shiftLeft(64)).longValue()}%016x"
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  private[graftbench] def timeNs(f: => Unit): Long = {
    val t0 = System.nanoTime()
    f
    System.nanoTime() - t0
  }
}

/** `ExtractMain`'s path: `ExtractJob.run` from a pages parquet to committed
  * buckets plus lineage, into a fresh output directory per iteration. */
final class ExtractWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._
  val name = "extract"
  val docs: Long = Workload.Pages
  private var pagesPath = ""
  private var lastStats: ExtractJob.RunStats = _
  private val cfg = ExtractJob.Config(buckets = Workload.Buckets)
  // the session confs ExtractMain.applyJobConfs sets
  spark.conf.set("spark.sql.shuffle.partitions", Workload.Buckets.toString)
  spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")

  def prepare(dir: String): Unit = {
    pagesPath = s"$dir/pages"
    Inputs.writePages(spark, ctx.seed, Workload.Pages, pagesPath)
  }

  def run(out: String, probe: Probe): Unit = {
    // the same by-name projection ExtractMain applies to --input
    val pages = spark.read.parquet(pagesPath).select("url", "warc_ts", "html", "text", "lang").as[Page]
    lastStats = probe.span("pipeline")(ExtractJob.run(spark, pages, out, cfg))
  }

  def quickCheck(): Seq[String] =
    if (lastStats.pagesProcessed != docs) Seq(s"run stats pages ${lastStats.pagesProcessed} != pages $docs") else Nil

  def check(out: String): Check = {
    val extracted = ExtractJob.readOutput(spark, out)
    val r = extracted.agg(count(lit(1)), Workload.digestSum(extracted), countDistinct(col("url")),
      sum(when(col("status").startsWith("error:"), 1L).otherwise(0L))).head()
    // the lineage root starts with `_`, which partition discovery skips:
    // read its bucket directories
    val lineageDirs = new java.io.File(s"$out/_lineage").listFiles().filter(_.getName.startsWith("bucket="))
    val lineageRows = spark.read.parquet(lineageDirs.map(_.getPath).toIndexedSeq: _*)
      .agg(sum(col("rows_out"))).head().getLong(0)
    val (rows, urls, errors) = (r.getLong(0), r.getLong(2), r.getLong(3))
    val problems = quickCheck() ++ Seq(
      s"committed rows $rows != pages $docs" -> (rows != docs),
      s"lineage rows_out $lineageRows != pages $docs" -> (lineageRows != docs),
      s"$urls distinct urls for $rows rows" -> (urls != rows))
      .collect { case (msg, true) => msg }
    Check(problems, errors, Workload.digestOf(r, 0))
  }

  /** Tokenize, extract and render over a seeded sample of the same pages,
    * regenerated by the same row function that wrote the parquet. */
  def kernel(tracer: Tracer): Map[String, Double] = {
    val r = Inputs.rng(ctx.seed, 0, 11)
    val sample = Array.fill(Kernels.SamplePages)(Inputs.pageAt(ctx.seed, Workload.Pages, r.nextInt(Workload.Pages)))
    Kernels.html(sample, tracer)
  }
}

/** The relational merge layer: two runs per doc (the committed extraction
  * plus `MergeJob.perturbRun`), `mergeRuns` into `flattenMerged` written to
  * parquet, and `perDocStats` into `globalStats` collected. */
final class MergeStatsWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._
  val name = "merge_stats"
  private var extractDir = ""
  private var mergedDocs = 0L
  private var lastGlobal: org.apache.spark.sql.Row = _
  def docs: Long = mergedDocs

  private var pagesPath = ""

  def prepare(dir: String): Unit = {
    pagesPath = s"$dir/pages"
    extractDir = s"$dir/extract"
    Inputs.writePages(spark, ctx.seed, Workload.MergePages, pagesPath)
  }

  /** The merge input: the committed extraction of the pages. */
  override def derive(): Unit = {
    val pages = spark.read.parquet(pagesPath).as[Page]
    ExtractJob.run(spark, pages, extractDir, ExtractJob.Config(buckets = Workload.Buckets))
    // a doc merges iff one of its runs has a table (MergePipeline.mergeGroup)
    val r = ExtractJob.readOutput(spark, extractDir).agg(
      sum(when(col("n_tables") > 0, 1L).otherwise(0L)),
      sum(when(col("status").startsWith("error:"), 1L).otherwise(0L))).head()
    require(r.getLong(1) == 0L, s"merge input has ${r.getLong(1)} errored pages")
    mergedDocs = r.getLong(0)
  }

  def run(out: String, probe: Probe): Unit = {
    val runs = ExtractJob.readOutput(spark, extractDir)
      .select("url", "tables_json").as[(String, String)]
      .flatMap { case (url, tj) =>
        val a = RunDoc(url, "run-extract", 0, 0, tj)
        Seq(a, MergeJob.perturbRun(a, "run-perturbed", 1))
      }
    val merged = MergeJob.mergeRuns(spark, runs, MergeConfig())
    probe.span("merge")(MergeJob.flattenMerged(spark, merged).write.mode("overwrite").parquet(s"$out/flat"))
    lastGlobal = probe.span("stats")(Stats.globalStats(Stats.perDocStats(spark, merged).toDF()).collect().head)
  }

  def quickCheck(): Seq[String] = {
    val papers = lastGlobal.getAs[Long]("papers")
    if (papers != mergedDocs) Seq(s"globalStats papers $papers != merged docs $mergedDocs") else Nil
  }

  def check(out: String): Check = {
    val flat = spark.read.parquet(s"$out/flat")
    val r = flat.agg(count(lit(1)), Workload.digestSum(flat)).head()
    val flatRows = r.getLong(0)
    val rows = lastGlobal.getAs[Long]("rows")
    val problems = quickCheck() ++ Seq(
      s"globalStats rows $rows != flattened rows $flatRows" -> (rows != flatRows))
      .collect { case (msg, true) => msg }
    val global = Inputs.mix64(lastGlobal.toSeq.map(String.valueOf).mkString(",").hashCode.toLong)
    Check(problems, 0L, f"${Workload.digestOf(r, 0)}-$global%016x")
  }

  /** Parse, merge, stats and render over a seeded sample of the committed
    * extraction rows that carry tables. */
  def kernel(tracer: Tracer): Map[String, Double] = {
    val sample = ExtractJob.readOutput(spark, extractDir)
      .filter(col("n_tables") > 0)
      .orderBy(xxhash64(col("url"), lit(ctx.seed)))
      .select("url", "tables_json").as[(String, String)]
      .limit(Kernels.SampleDocs).collect()
    Kernels.merge(sample, tracer)
  }
}

/** `CurateMain`'s path: `CurateMain.run` with `computeStats = true` (as its
  * `main` runs it) and a benchmark set, then the curated parquet write. */
final class CurateWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  val name = "curate"
  val docs: Long = Workload.CorpusDocs
  private var corpusPath = ""
  private var benchPath = ""
  private var lastStats: CurateMain.Stats = _
  private var persistedMb = 0.0
  private val expected = CurateExpect(Workload.CorpusDocs)

  def prepare(dir: String): Unit = {
    corpusPath = s"$dir/corpus"
    benchPath = s"$dir/bench"
    Inputs.writeCorpus(spark, ctx.seed, Workload.CorpusDocs, corpusPath, benchPath)
  }

  def run(out: String, probe: Probe): Unit = probe.span("curate") {
    val docs = spark.read.parquet(corpusPath).select("doc_id", "text")
    val bench = spark.read.parquet(benchPath).select("text")
    val (curated, stats) = probe.span("curate.run")(CurateMain.run(spark, docs, Some(bench), CurateMain.Args()))
    probe.span("curate.write")(curated.write.mode("overwrite").parquet(s"$out/curated"))
    lastStats = stats
  }

  /** `run()` leaves the gate frames cached for its caller to free: read
    * their size, then release them. */
  override def release(): Unit = {
    org.apache.spark.graftbench.BusDrain.drain(spark.sparkContext)
    persistedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => (i.memSize + i.diskSize).toDouble).sum / (1 << 20)
    spark.catalog.clearCache()
  }

  def quickCheck(): Seq[String] = {
    val s = lastStats
    val counts = Seq(s.inputDocs, s.afterLineStrip, s.keptQuality, s.keptSpanGate, s.contaminated, s.outputDocs)
    Seq(
      s"stats $s != planted $expected" -> (s != expected),
      s"a gate keeps no docs: $s" -> counts.exists(_ <= 0))
      .collect { case (msg, true) => msg }
  }

  def check(out: String): Check = {
    val curated = spark.read.parquet(s"$out/curated")
    val r = curated.agg(count(lit(1)), Workload.digestSum(curated)).head()
    val n = r.getLong(0)
    val problems = quickCheck() ++ Seq(
      s"curated rows $n != output_docs ${lastStats.outputDocs}" -> (n != lastStats.outputDocs))
      .collect { case (msg, true) => msg }
    Check(problems, 0L, Workload.digestOf(r, 0))
  }

  def kernel(tracer: Tracer): Map[String, Double] = Map.empty

  override def traceExtras(): Map[String, Double] = Map(
    "curate.persist_mb" -> persistedMb,
    "curate.kept_frac" -> lastStats.outputDocs.toDouble / lastStats.inputDocs)
}
