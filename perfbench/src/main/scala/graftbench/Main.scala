package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, normally started by `perfbench/run.py`:
  *
  * {{{
  * graftbench.Main --workload extract|merge_stats|curate --seed N
  *   --seconds S --trace 0|1 --work DIR --digests FILE --spans DIR [--record]
  * }}}
  *
  * One JVM, one `local[min(2, cores / 2)]` session, a closed loop: one
  * iteration at a time, each started after the previous one committed and
  * was checked against the counts it returned. Set-up builds the inputs
  * from the seed (three times, the median counts) and warms up for the
  * workload's number of iterations. The last warm-up iteration and the last
  * measured one also get the full check of their output. The
  * last stdout line is the result JSON; the human-readable report goes to
  * stderr. With `--trace 1`, iterations alternate untraced and traced and
  * the traced ones give the per-layer metrics; their `docs_per_s` gap to
  * the untraced ones is the tracing overhead.
  */
object Main {

  final case class Args(
      workload: String = "",
      seed: Long = 1L,
      seconds: Int = 10,
      trace: Boolean = false,
      work: String = "",
      digests: String = "",
      spans: String = "",
      record: Boolean = false)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, a.copy(work = v))
    case "--digests" :: v :: rest => parse(rest, a.copy(digests = v))
    case "--spans" :: v :: rest => parse(rest, a.copy(spans = v))
    case "--record" :: rest => parse(rest, a.copy(record = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }

  val SetupReps = 3
  /** Warm-up iterations of every workload. A fixed count keeps set-up time
    * and JIT state alike across runs. */
  val WarmIters = 3
  val MinMeasured = 3

  final case class Iter(k: Int, traced: Boolean, wallNs: Long, check: Check, gcS: Double,
      extras: Map[String, Double]) {
    def failed: Boolean = check.errors.nonEmpty
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.work.nonEmpty && a.digests.nonEmpty && a.spans.nonEmpty, "--work, --digests and --spans are required")
    val t0 = System.nanoTime()
    // half the cores run tasks; the other half stay free for the JIT
    // compiler and GC threads (capped at two each by the launcher) and the
    // driver thread, so compilation does not deschedule the task threads
    val cores = math.max(1, math.min(2, Runtime.getRuntime.availableProcessors / 2))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val wl = Workload(a.workload, Ctx(spark, a.seed))
    val prepS = (0 until SetupReps).map { k =>
      if (k > 0) Workload.deleteTree(s"${a.work}/input-${k - 1}")
      Workload.timeNs(wl.prepare(s"${a.work}/input-$k")) / 1e9
    }
    val deriveS = Workload.timeNs(wl.derive()) / 1e9

    val tracer = new Tracer(s"${a.workload}-seed${a.seed}-${System.currentTimeMillis()}")
    val ledger = new Ledger(spark.sparkContext)
    val recorded = Digests.read(a.digests).get((a.workload, a.seed))
    var expectDigest = recorded

    def outOf(k: Int): String = s"${a.work}/out-$k"

    /** Runs iteration `k` and checks it against the counts the program
      * returned. Its output stays on disk for [[fullCheck]] or [[discard]]. */
    def iteration(k: Int, traced: Boolean): Iter = {
      val out = outOf(k)
      tracer.iter = k
      val probe = if (traced) new TracingProbe(tracer, ledger) else NoProbe
      if (traced) spark.sparkContext.addSparkListener(ledger)
      val gc0 = gcMs()
      var thrown: Option[Throwable] = None
      val wallNs = Workload.timeNs {
        try {
          if (traced) tracer.span("iteration")(wl.run(out, probe)) else wl.run(out, probe)
        } catch { case e: Exception => thrown = Some(e) }
      }
      val gcS = (gcMs() - gc0) / 1e3
      if (traced) spark.sparkContext.removeSparkListener(ledger)
      val check = thrown match {
        case Some(e) => Check(Seq(s"iteration threw $e"), 0L, "")
        case None => Check(wl.quickCheck(), 0L, "")
      }
      check.errors.foreach(e => log(s"iteration $k FAILED: $e"))
      wl.release()
      Iter(k, traced, wallNs, check, gcS, if (traced && check.errors.isEmpty) wl.traceExtras() else Map.empty)
    }

    def discard(it: Iter): Iter = {
      Workload.deleteTree(outOf(it.k))
      it
    }

    /** Reads back the output of the latest iteration `it`, checks it and its
      * digest, then deletes it. */
    def fullCheck(it: Iter): Iter = {
      val checked =
        if (it.failed) it
        else {
          val c0 = try wl.check(outOf(it.k)) catch { case e: Exception => Check(Seq(s"check threw $e"), 0L, "") }
          val c =
            if (c0.errors.nonEmpty) c0
            else expectDigest match {
              case Some(d) if d != c0.digest => c0.copy(errors = Seq(s"output digest ${c0.digest} != expected $d"))
              case _ =>
                expectDigest = Some(c0.digest)
                c0
            }
          c.errors.foreach(e => log(s"iteration ${it.k} FAILED: $e"))
          it.copy(check = c)
        }
      discard(checked)
    }

    // warm-up. Its last iteration gets the full check, so a wrong result
    // stops the run here instead of being timed.
    val warmStart = System.nanoTime()
    val warm = ArrayBuffer.empty[Iter]
    while (warm.size < WarmIters && !warm.exists(_.failed)) {
      val it = iteration(warm.size, traced = false)
      warm += (if (it.failed || warm.size == WarmIters - 1) fullCheck(it) else discard(it))
    }
    val warmS = (System.nanoTime() - warmStart) / 1e9
    val setupS = sessionS + Report.median(prepS) + deriveS + warmS
    log(f"set-up: session $sessionS%.2f s, inputs ${prepS.map(s => f"$s%.2f").mkString("/")} s, derived $deriveS%.2f s, " +
      f"warm-up ${warm.size} iterations $warmS%.2f s (${warm.map(_.wallNs / 1e9).map(s => f"$s%.2f").mkString(" ")})")

    // the measured window: closed loop for --seconds. Every iteration gets
    // the quick check; the last one also the full check, after the window.
    val measured = ArrayBuffer.empty[Iter]
    if (!warm.exists(_.failed)) {
      val start = System.nanoTime()
      // a traced run needs at least two samples on each side
      val minMeasured = if (a.trace) MinMeasured + 1 else MinMeasured
      while (measured.size < minMeasured || (System.nanoTime() - start) / 1e9 < a.seconds) {
        measured.lastOption.foreach(discard)
        measured += iteration(warm.size + measured.size, traced = a.trace && measured.size % 2 == 1)
      }
      measured(measured.size - 1) = fullCheck(measured.last)
    }
    val rssMb = peakRssMb()

    val counted = if (measured.nonEmpty) measured.toSeq else warm.toSeq
    val attempted = counted.size * wl.docs
    // pages with an error status are counted by the full check; every
    // iteration extracts the same input, so each has as many
    val errorDocs = counted.last.check.failedDocs
    val failed = counted.map(it => if (it.failed) wl.docs else errorDocs).sum
    val correct = !counted.exists(_.failed) && failed == 0L
    def docsPerS(its: Seq[Iter]): Double = Report.median(its.map(it => wl.docs / (it.wallNs / 1e9)))
    val untraced = counted.filterNot(_.traced)
    val docsPerSUntraced = docsPerS(untraced)

    val endToEnd = Seq(
      "docs_per_s" -> docsPerSUntraced,
      "setup_s" -> setupS,
      "peak_rss_mb" -> rssMb)
    log(s"measured iterations s: ${counted.map(it => f"${it.wallNs / 1e9}%.3f${if (it.traced) "t" else ""}").mkString(" ")}")
    log(s"workload ${a.workload} seed ${a.seed}: ${counted.size} iterations of ${wl.docs} docs, " +
      s"${untraced.size} untraced samples, digest ${counted.lastOption.map(_.check.digest).getOrElse("")}" +
      (if (recorded.isEmpty) " (no digest recorded for this seed)" else s" (recorded: ${recorded.get})"))
    (endToEnd :+ ("failed_frac" -> failed.toDouble / math.max(1L, attempted))).foreach { case (k, v) =>
      log(f"  $k%-12s ${Report.num(v)}%s ${if (k == "failed_frac") "frac" else Metrics.unitOf(k)}")
    }

    val metrics =
      if (!a.trace) endToEnd
      else {
        val traced = counted.filter(_.traced)
        val perIter = traced.map(it => perLayer(it, tracer, ledger))
        val pooled = traced.flatMap(it => taskDurations(it, tracer, ledger)).groupBy(_._1)
        val kernel = wl.kernel(tracer)
        val overhead = if (docsPerSUntraced > 0) 1.0 - docsPerS(traced) / docsPerSUntraced else 0.0
        val all = Metrics.PerLayer.map { case (name, _) =>
          val v = name match {
            case "trace.overhead_frac" => overhead
            case n if n.endsWith(".task_s_p50") || n.endsWith(".task_s_p99") =>
              val fam = n.substring(0, n.indexOf('.'))
              val durs = pooled.get(fam).map(_.flatMap(_._2)).getOrElse(Nil)
              Report.quantile(durs, if (n.endsWith("p50")) 0.5 else 0.99)
            case n if kernel.contains(n) => kernel(n)
            case n => Report.median(perIter.map(_.getOrElse(n, 0.0)))
          }
          name -> v
        }
        logTrace(all, tracer, ledger)
        tracer.writeJsonl(java.nio.file.Paths.get(a.spans, s"${tracer.runId}.jsonl"))
        all
      }

    if (a.record && correct) counted.lastOption.foreach(it => Digests.record(a.digests, a.workload, a.seed, it.check.digest))
    spark.stop()
    println(Report.resultLine(correct, attempted, failed, metrics))
    System.out.flush()
    sys.exit(0)
  }

  /** Root spans of the families a traced iteration opened. */
  private def familySpans(it: Iter, tracer: Tracer): Seq[Span] =
    tracer.spans.filter(s => s.iter == it.k && Metrics.Families.contains(s.name))

  private def perLayer(it: Iter, tracer: Tracer, ledger: Ledger): Map[String, Double] =
    familySpans(it, tracer).flatMap { s =>
      Report.family(s.name, s, tracer, ledger)._1 ++ Report.spanExtras(s, tracer, ledger)
    }.toMap ++ it.extras + ("jvm.gc_s" -> it.gcS)

  private def taskDurations(it: Iter, tracer: Tracer, ledger: Ledger): Seq[(String, Seq[Double])] =
    familySpans(it, tracer).map(s => s.name -> Report.family(s.name, s, tracer, ledger)._2)

  /** Per-layer table plus the median duration and self time per span name. */
  private def logTrace(all: Seq[(String, Double)], tracer: Tracer, ledger: Ledger): Unit = {
    log("per-layer metrics (median per traced iteration unless p50/p99):")
    all.foreach { case (k, v) => log(f"  $k%-34s ${Report.num(v)}%s ${Metrics.unitOf(k)}") }
    log("spans: name, count, median duration s, median self time s")
    tracer.spans.groupBy(_.name).toSeq.sortBy(_._2.map(_.id).min).foreach { case (name, ss) =>
      val self = ss.map(s => Intervals.selfNs(s, tracer.children(s.id)) / 1e9)
      log(f"  $name%-24s ${ss.size}%3d ${Report.median(ss.map(_.durNs / 1e9))}%.4f ${Report.median(self)}%.4f")
    }
    log("stages by call site, over all traced iterations: family, call site, jobs, job wall s, task s")
    tracer.spans.filter(s => Metrics.Families.contains(s.name)).groupBy(_.name).foreach { case (fam, ss) =>
      val ts = ss.flatMap(s => tracer.subtree(s.id)).map(ledger.tallyOf)
      val jobs = ts.flatMap(_.jobRecs)
      val execTask = ts.flatMap(_.execTaskMs).groupMapReduce(_._1)(_._2)(_ + _)
      jobs.groupBy(_.site).toSeq.sortBy(_._2.map(_.startMs).min).foreach { case (site, js) =>
        val wall = js.groupBy(_.exec).values.map(g => g.map(_.endMs).max - g.map(_.startMs).min).sum
        val task = js.map(_.exec).distinct.map(execTask.getOrElse(_, 0L)).sum
        log(f"  $fam%-9s ${site.take(44)}%-44s ${js.size}%4d ${wall / 1e3}%8.3f ${task / 1e3}%8.3f")
      }
    }
  }
}

/** Output digests recorded per (workload, seed) at this commit, one
  * `workload<TAB>seed<TAB>digest` line each. */
object Digests {
  def read(path: String): Map[(String, Long), String] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\t")).map(f => (f(0), f(1).toLong) -> f(2)).toMap
    }
  }

  def record(path: String, workload: String, seed: Long, digest: String): Unit = {
    val all = read(path) + ((workload, seed) -> digest)
    val lines = "# workload\tseed\tdigest" +: all.toSeq.sortBy(_._1).map { case ((w, s), d) => s"$w\t$s\t$d" }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
