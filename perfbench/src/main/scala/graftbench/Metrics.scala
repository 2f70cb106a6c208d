package graftbench

/** The metric-name contract: every metric the benchmark can print, with
  * its unit. `BENCHMARK.json` at the repository root names the same set
  * (checked by ContractSpec). End-to-end metrics are printed untraced
  * (`--trace 0`), per-layer metrics by the traced run (`--trace 1`). */
object Metrics {

  val EndToEnd: Seq[(String, String)] = Seq(
    "docs_per_s" -> "docs/s",
    "setup_s" -> "s",
    "peak_rss_mb" -> "MB")

  /** Spark-side families: one per span the workloads open. */
  val Families: Seq[String] = Seq("pipeline", "merge", "stats", "curate")

  val FamilySuffixes: Seq[(String, String)] = Seq(
    "task_s" -> "s",
    "cpu_s" -> "s",
    "gc_s" -> "s",
    "shuffle_write_mb" -> "MB",
    "shuffle_read_mb" -> "MB",
    "spill_mb" -> "MB",
    "jobs" -> "count",
    "tasks" -> "count",
    "task_s_p50" -> "s",
    "task_s_p99" -> "s",
    "idle_s" -> "s")

  val SpanExtras: Seq[(String, String)] = Seq(
    "pipeline.output_mb" -> "MB",
    "pipeline.lineage_s" -> "s",
    "curate.persist_mb" -> "MB",
    "curate.stats_count_s" -> "s",
    "curate.write_s" -> "s",
    "curate.kept_frac" -> "frac",
    "jvm.gc_s" -> "s")

  /** The Spark-free single-thread kernel pass. */
  val Kernel: Seq[(String, String)] = Seq(
    "html.tokenize_us_per_page" -> "us",
    "html.extract_us_per_page" -> "us",
    "html.alloc_kb_per_page" -> "KB",
    "html.tables_per_page" -> "count",
    "html.cells_per_page" -> "count",
    "json.render_us_per_page" -> "us",
    "json.tables_json_bytes_per_page" -> "bytes",
    "json.parse_us_per_doc" -> "us",
    "merge.kernel_us_per_doc" -> "us",
    "stats.kernel_us_per_doc" -> "us",
    "json.merged_render_us_per_doc" -> "us")

  val PerLayer: Seq[(String, String)] =
    Families.flatMap(f => FamilySuffixes.map { case (s, u) => s"$f.$s" -> u }) ++
      SpanExtras ++ Kernel ++ Seq("trace.overhead_frac" -> "frac")

  def unitOf(name: String): String =
    (EndToEnd ++ PerLayer).find(_._1 == name).map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"unknown metric $name"))
}
