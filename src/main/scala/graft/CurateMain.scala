package graft

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Cli
import graft.ops.{Curation, LineDedup}

/** spark-submit entrypoint for the corpus-curation pipeline — the
  * training-data hygiene chain composed from the independently-oracled
  * operators, in the order the published recipes run them:
  *
  *  1. repeated-line strip ([[graft.ops.LineDedup]]) — boilerplate lines
  *     removed, text rebuilt; fully-boilerplate docs dropped;
  *  2. quality + repetition gates and exact dedup ([[graft.ops.Curation]]);
  *  3. duplicated-substring coverage gate ([[graft.ops.DupSpans]]) — docs
  *     over `--max-dup-permille` duplicated tokens dropped;
  *  4. benchmark decontamination ([[graft.ops.Decontaminate]]) when
  *     `--benchmark` is given — contaminated docs dropped.
  *
  * Gates 2-4 run as one keyed pass, [[graft.ops.Curation.gates]], which
  * decides each doc as the three standalone ops would.
  *
  * Every run builds this one chain; the flags below set thresholds inside
  * it and never add or remove a gate.
  *
  * {{{
  * spark-submit --class graft.CurateMain graft.jar \
  *   --input  /data/documents       # parquet: (doc_id, text, ...extras ok)
  *   --out    /data/curated_run     # output root (curated/ parquet)
  *   [--benchmark /data/eval_items] # parquet with a `text` column
  *   [--gram-k 8]                   # n-gram size for span gate + decontam
  *   [--line-min-df 2]              # line df threshold for the strip
  *   [--max-dup-permille 500]       # span-coverage gate (dup_tokens/n_tokens)
  * }}}
  *
  * Scale shape: document text never crosses a gate's exchange. The line
  * strip shuffles its line digests and rebuilds text in place; the gates
  * tokenize each stripped doc once and shuffle only keyed scalar rows (one
  * content MD5 per doc, one 16-byte digest per k-gram), once on the key
  * and once on doc_id; the corpus text then joins the kept ids once (left
  * semi). Per-stage counts in the final stats line are observed as a side
  * effect of one count of the output, which stays persisted for the write
  * (see [[run]]).
  *
  * Cluster topology belongs to spark-submit flags, not this code; the
  * session is `getOrCreate()` with no master override.
  *
  * Exit code 0 and one final JSON line on stdout:
  * `{"input_docs":N,"after_line_strip":L,"kept_quality":Q,"kept_span_gate":S,"contaminated":C,"output_docs":O,"wall_sec":W}`
  * — `contaminated` is -1 when no `--benchmark` is given (never conflated
  * with a decontamination that ran and matched zero docs); null-text rows
  * are dropped at intake and excluded from input_docs; rows with a null
  * doc_id count in input_docs only.
  */
object CurateMain {

  final case class Args(
      input: Option[String] = None,
      out: Option[String] = None,
      benchmark: Option[String] = None,
      gramK: Int = 8,
      lineMinDf: Long = 2L,
      maxDupPermille: Int = 500)

  final case class Stats(
      inputDocs: Long,
      afterLineStrip: Long,
      keptQuality: Long,
      keptSpanGate: Long,
      contaminated: Long,
      outputDocs: Long)

  private val valueFlags = Set(
    "--input", "--out", "--benchmark", "--gram-k", "--line-min-df", "--max-dup-permille")

  def parse(argv: List[String], acc: Args = Args()): Args = Cli.checked(valueFlags, argv) match {
    case Nil => acc
    case "--input" :: v :: rest => parse(rest, acc.copy(input = Some(v)))
    case "--out" :: v :: rest => parse(rest, acc.copy(out = Some(v)))
    case "--benchmark" :: v :: rest => parse(rest, acc.copy(benchmark = Some(v)))
    case "--gram-k" :: v :: rest =>
      parse(rest, acc.copy(gramK = Cli.positiveInt("--gram-k", v)))
    case "--line-min-df" :: v :: rest =>
      val d = Cli.positiveInt("--line-min-df", v)
      if (d < 2) throw new IllegalArgumentException(
        s"--line-min-df below 2 would strip every line (df >= 1 always); got: $v")
      parse(rest, acc.copy(lineMinDf = d.toLong))
    case "--max-dup-permille" :: v :: rest =>
      val p = Cli.positiveInt("--max-dup-permille", v)
      if (p > 1000) throw new IllegalArgumentException(
        s"--max-dup-permille is a fraction of 1000, got: $v")
      parse(rest, acc.copy(maxDupPermille = p))
    case other :: _ => throw new IllegalArgumentException(s"unknown arg: $other")
  }

  /** The pipeline itself, IO-free for testability: returns the curated
    * (doc_id, text) frame plus per-stage counts. `benchmark` needs a
    * `text` column. Both modes build one plan; with `computeStats = false`
    * the call is construction-pure — no Spark jobs, no persists, every
    * stat -1 — so the chain can be registered as a lazily-built query (the
    * driver's oracle replay).
    *
    * STATS (computeStats = true): the intake and strip counts are a
    * `Dataset.observe` on their frames, the three gate counts one observe
    * of three sums on the per-doc verdicts, all collected as a side
    * effect of the ONE action this call
    * runs — a `count()` of the output, which is persisted MEMORY_AND_DISK
    * so the caller's write reads the cached rows instead of re-running the
    * chain. That output is the only frame left persisted: a caller in a
    * long-lived session frees it after consuming it (`unpersist()` on the
    * returned frame or `spark.catalog.clearCache()`).
    */
  def run(spark: SparkSession, docs: DataFrame, benchmark: Option[DataFrame],
      args: Args, computeStats: Boolean = true): (DataFrame, Stats) = {
    // A fresh Observation per stat point (none when construction-pure),
    // read once the output's action has run: one Long per `stats` column.
    // Adaptive execution drops a subtree whose consumer turned out empty,
    // and its observation with it; such a point falls back to aggregating
    // its frame directly.
    def observed(df: DataFrame, stats: Column*): (DataFrame, Option[() => Seq[Long]]) =
      if (!computeStats) (df, None)
      else {
        val o = Observation()
        val named = stats.zipWithIndex.map { case (c, i) => c.as(s"s$i") }
        (df.observe(o, named.head, named.tail: _*), Some(() => {
          val m = o.get
          if (m.isEmpty) df.agg(named.head, named.tail: _*).head().toSeq.map(_.asInstanceOf[Long])
          else named.indices.map(i => m(s"s$i").asInstanceOf[Long])
        }))
      }
    // null text is dropped at intake and counted out of input_docs: the
    // strip's posexplode would drop such a row silently, and the typed
    // signal pass would NPE on it
    val (intake, inputN) = observed(
      docs.select(col("doc_id"), col("text")).filter(col("text").isNotNull), count(lit(1)))
    // The strip consumes `input` twice (line-digest side + rebuild join
    // side). When the input is itself an expensive subtree — the
    // end-to-end path feeds the whole extraction pipeline in here — one
    // exchange is pinned above it so both strip sides share a single
    // evaluation; a plain scan passes through (re-scanning is cheaper than
    // shuffling; the ops' own Spread guard owns scan parallelism).
    // The explicit doc_id not-null filter is a PLAN-SHAPE pin: rows with a
    // null doc_id can never reach the output anyway (the final keep-set
    // semi-join on doc_id drops them), but without the explicit filter the
    // optimizer infers isnotnull(doc_id) from the keep-set joins on SOME
    // branches of the shared subtree and not others, the branch canonical
    // forms stop matching, and AQE materializes the pinned exchange (and
    // everything under it, including the extraction feed) once per variant
    // instead of once — observed as two full extraction stages per action.
    // Such rows are counted in input_docs (observed above the pin) and by
    // no later gate.
    val input = graft.ops.Spread.shareIfComplex(intake.filter(col("doc_id").isNotNull))
    // The stripped corpus has two consumers: the gates' keyed pass and the
    // final semi-join. Each re-runs the strip's narrow rebuild over the
    // strip's own exchanges (reused, so the strip's shuffles and the input
    // below them run once); a doc_id exchange pinned here to share the
    // rebuild would shuffle the whole text once more, and where the strip
    // already leaves the rows hash-partitioned on doc_id (Spread fired)
    // the planner drops such a pin anyway.
    val (stripped, strippedN) = observed(
      LineDedup.stripRepeatedLines(input, args.lineMinDf).filter(col("text") =!= ""),
      count(lit(1)))
    val (verdicts, gateN) = observed(
      Curation.gates(spark, stripped, benchmark, args.gramK, args.maxDupPermille).toDF(),
      count_if(col("keeper")), count_if(col("span_ok")), count_if(col("contaminated")))
    val keep = verdicts.filter(col("keeper") && col("span_ok") && !col("contaminated"))
      .select(col("doc_id"))
    val out = stripped.join(keep, Seq("doc_id"), "left_semi")

    if (!computeStats) (out, Stats(-1L, -1L, -1L, -1L, -1L, -1L))
    else {
      val cachedOut = out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val outputDocs = cachedOut.count()
      val Seq(keptQuality, keptSpan, contaminated) = gateN.get()
      (cachedOut, Stats(
        inputDocs = inputN.get().head,
        afterLineStrip = strippedN.get().head,
        keptQuality = keptQuality,
        keptSpanGate = keptSpan,
        // -1 = no benchmark given (vs a legitimate 0 from a decontamination that ran)
        contaminated = if (benchmark.isDefined) contaminated else -1L,
        outputDocs = outputDocs))
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    val input = args.input.getOrElse(throw new IllegalArgumentException("--input is required"))
    val out = args.out.getOrElse(throw new IllegalArgumentException("--out is required"))

    val spark = SparkSession.builder().appName("graft-curate").getOrCreate()
    // by-name projection: tolerate extra columns, fail fast on missing
    val docs = spark.read.parquet(input).select("doc_id", "text")
    val bench = args.benchmark.map(p => spark.read.parquet(p).select("text"))

    val t0 = System.nanoTime()
    val (curated, stats) = run(spark, docs, bench, args)
    curated.write.mode("overwrite").parquet(s"$out/curated")
    val wallStr = Cli.jsonNum((System.nanoTime() - t0) / 1e9)
    println(
      s"""{"input_docs":${stats.inputDocs},"after_line_strip":${stats.afterLineStrip},"kept_quality":${stats.keptQuality},"kept_span_gate":${stats.keptSpanGate},"contaminated":${stats.contaminated},"output_docs":${stats.outputDocs},"wall_sec":$wallStr}""")
    spark.stop()
  }
}
