package graft

import org.apache.spark.sql.SparkSession
import graft.core.Cli
import graft.pipeline.{ExtractJob, Page}

/** spark-submit entrypoint for the flagship extraction job (north rule:
  * "run via spark-submit on a multi-executor cluster", resumable from the
  * per-bucket lineage table).
  *
  * {{{
  * spark-submit --class graft.ExtractMain graft.jar \
  *   --input  /data/pages            # parquet: (url, warc_ts, html, text, lang)
  *   --out    /data/extracted_run    # output root (extracted/ + _lineage/)
  *   [--buckets 4096]                # url-hash partitions (size so p99 fits a core)
  *   [--no-resume]                   # ignore existing lineage, redo everything
  * }}}
  *
  * Cluster topology (master, executor count/cores/memory, dynamic
  * allocation) belongs to spark-submit flags, not this code: the session is
  * `getOrCreate()` with no master override. The ONLY conf this main sets is
  * a shuffle-partition default matched to `--buckets` when the submitter
  * did not choose one (the job's single wide edge is the repartition onto
  * `bucket`, so more shuffle partitions than buckets buys nothing).
  *
  * Exit code 0 and one final JSON line on stdout:
  * `{"pages_processed":N,"buckets_skipped":K,"buckets_planned":B,"wall_sec":S}`.
  */
object ExtractMain {

  final case class Args(
      input: Option[String] = None,
      out: Option[String] = None,
      buckets: Int = 4096,
      resume: Boolean = true)

  private val valueFlags = Set("--input", "--out", "--buckets")

  def parse(argv: List[String], acc: Args = Args()): Args = Cli.checked(valueFlags, argv) match {
    case Nil => acc
    case "--input" :: v :: rest => parse(rest, acc.copy(input = Some(v)))
    case "--out" :: v :: rest => parse(rest, acc.copy(out = Some(v)))
    case "--buckets" :: v :: rest =>
      parse(rest, acc.copy(buckets = Cli.positiveInt("--buckets", v)))
    case "--no-resume" :: rest => parse(rest, acc.copy(resume = false))
    case other :: _ => throw new IllegalArgumentException(s"unknown arg: $other")
  }

  /** Job-level conf defaults, applied only when the submitter did not set
    * the key. `spark.conf.getOption` CANNOT detect that: for registered SQL
    * confs it returns the built-in default (`Some("200")` /`Some("true")`),
    * never `None` — the SparkConf behind the context (spark-submit
    * `--conf`, properties file, builder `.config`) is the record of what
    * was explicitly chosen, so that is what gates here.
    */
  private[graft] def applyJobConfs(spark: SparkSession, buckets: Int): Unit = {
    val submitted = spark.sparkContext.getConf
    if (!submitted.contains("spark.sql.shuffle.partitions"))
      spark.conf.set("spark.sql.shuffle.partitions", buckets)
    // North rule: AQE skew-join stays OFF in favor of the deterministic
    // url-hash bucketing — per-row placement (and thus per-file output
    // layout) must not depend on runtime size estimates. Defensive: this
    // job's only wide edge is an explicit repartition AQE would not reshape
    // anyway, and its one join is a broadcast anti-join.
    if (!submitted.contains("spark.sql.adaptive.skewJoin.enabled"))
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    val input = args.input.getOrElse(throw new IllegalArgumentException("--input is required"))
    val out = args.out.getOrElse(throw new IllegalArgumentException("--out is required"))

    val builder = SparkSession.builder().appName("graft-extract")
    val spark = builder.getOrCreate()
    applyJobConfs(spark, args.buckets)

    import spark.implicits._
    // by-name projection: tolerate extra columns in the source table, fail
    // fast (AnalysisException) when a contract column is missing
    val pages = spark.read.parquet(input)
      .select("url", "warc_ts", "html", "text", "lang").as[Page]

    val cfg = ExtractJob.Config(buckets = args.buckets, resume = args.resume)
    val t0 = System.nanoTime()
    val stats = ExtractJob.run(spark, pages, out, cfg)
    // one machine-readable line, last on stdout (logs go to stderr)
    val wallStr = Cli.jsonNum((System.nanoTime() - t0) / 1e9)
    println(
      s"""{"pages_processed":${stats.pagesProcessed},"buckets_skipped":${stats.bucketsSkipped},"buckets_planned":${stats.bucketsPlanned},"wall_sec":$wallStr}""")
    spark.stop()
  }
}
