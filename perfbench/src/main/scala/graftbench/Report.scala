package graftbench

/** Turns traced iterations into the per-layer metrics, and formats the
  * result line. */
object Report {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** Nearest-rank quantile, `q` in (0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }

  private val MB = 1024.0 * 1024.0

  /** Spark figures of one family span (its whole subtree) in one traced
    * iteration, and the durations of its tasks in seconds. */
  def family(prefix: String, span: Span, tracer: Tracer, ledger: Ledger): (Map[String, Double], Seq[Double]) = {
    val ts = tracer.subtree(span.id).toSeq.map(ledger.tallyOf)
    def total(f: SpanTally => Long): Double = ts.map(f).sum.toDouble
    val stageNs = ts.flatMap(_.stageMs).map { case (a, b) => (a * 1000000L, b * 1000000L) }
    val busyNs = Intervals.coveredNs(stageNs, span.startNs, span.endNs)
    val m = Map(
      "task_s" -> total(_.taskMs) / 1e3,
      "cpu_s" -> total(_.cpuNs) / 1e9,
      "gc_s" -> total(_.gcMs) / 1e3,
      "shuffle_write_mb" -> total(_.shuffleWriteB) / MB,
      "shuffle_read_mb" -> total(_.shuffleReadB) / MB,
      "spill_mb" -> total(_.spillB) / MB,
      "jobs" -> total(_.jobs.toLong),
      "tasks" -> total(_.tasks.toLong),
      "idle_s" -> (span.durNs - busyNs) / 1e9)
    (m.map { case (k, v) => s"$prefix.$k" -> v }, ts.flatMap(_.taskDurMs).map(_ / 1e3))
  }

  /** Extras read from the call sites of a family span's jobs. */
  def spanExtras(span: Span, tracer: Tracer, ledger: Ledger): Map[String, Double] = {
    val ts = tracer.subtree(span.id).toSeq.map(ledger.tallyOf)
    val jobs = ts.flatMap(_.jobRecs)
    span.name match {
      case "pipeline" =>
        // the output write is the first parquet sink; what follows it is
        // lineage: partition listing, read-back aggregate, lineage write
        val writeSite = jobs.sortBy(_.startMs).map(_.site).find(_.startsWith("parquet at"))
        val writeEndNs = jobs.filter(j => writeSite.contains(j.site)).map(_.endMs * 1000000L)
          .reduceOption(_ max _).getOrElse(span.endNs)
        Map(
          "pipeline.output_mb" -> ts.map(_.outputB).sum / MB,
          "pipeline.lineage_s" -> math.max(0L, span.endNs - writeEndNs) / 1e9)
      case "curate" =>
        val countJobs = jobs.filter(_.site.startsWith("count at CurateMain"))
          .map(j => (j.startMs * 1000000L, j.endMs * 1000000L))
        val write = tracer.children(span.id).find(_.name == "curate.write")
        Map(
          "curate.stats_count_s" -> Intervals.coveredNs(countJobs, span.startNs, span.endNs) / 1e9,
          "curate.write_s" -> write.map(_.durNs / 1e9).getOrElse(0.0))
      case _ => Map.empty
    }
  }

  /** Finite JSON number with all its digits. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def resultLine(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Double)]): String = {
    val ms = metrics.map { case (k, v) =>
      s""""$k": {"value": ${num(v)}, "unit": "${Metrics.unitOf(k)}"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
