package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types._
import graft.ops.{Curation, Decontaminate, DupSpans, LineDedup}

class CurateMainSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("arg parsing: flags, defaults, validation") {
    val a = CurateMain.parse(List(
      "--input", "/d/docs", "--out", "/d/run", "--benchmark", "/d/eval",
      "--gram-k", "6", "--line-min-df", "3", "--max-dup-permille", "300"))
    assert(a.input.contains("/d/docs") && a.out.contains("/d/run"))
    assert(a.benchmark.contains("/d/eval"))
    assert(a.gramK == 6 && a.lineMinDf == 3L && a.maxDupPermille == 300)
    val d = CurateMain.parse(List("--input", "/x", "--out", "/y"))
    assert(d.gramK == 8 && d.lineMinDf == 2L && d.maxDupPermille == 500)
    assertThrows[IllegalArgumentException](CurateMain.parse(List("--bogus")))
    // every run builds the one chain: there is no switch to skip a gate
    for (gone <- Seq("--skip-span-gate", "--skip-line-dedup")) {
      val e = intercept[IllegalArgumentException](CurateMain.parse(List("--input", "/x", gone)))
      assert(e.getMessage == s"unknown arg: $gone")
    }
    assertThrows[IllegalArgumentException](
      CurateMain.parse(List("--line-min-df", "1"))) // would strip every line
    assertThrows[IllegalArgumentException](
      CurateMain.parse(List("--max-dup-permille", "1500")))
    assertThrows[IllegalArgumentException](CurateMain.parse(List("--gram-k", "0")))
    // a trailing flag with its value forgotten names the flag, not "unknown"
    val e = intercept[IllegalArgumentException](
      CurateMain.parse(List("--input", "/d", "--out")))
    assert(e.getMessage.contains("--out requires a value"))
    val e2 = intercept[IllegalArgumentException](
      ExtractMain.parse(List("--out", "/d", "--buckets")))
    assert(e2.getMessage.contains("--buckets requires a value"))
    // nor does a next token that is itself a flag: `--out --benchmark` must
    // not write to a directory named --benchmark
    val e3 = intercept[IllegalArgumentException](
      CurateMain.parse(List("--input", "/d/docs", "--out", "--benchmark", "/d/eval")))
    assert(e3.getMessage == "--out requires a value")
  }

  test("null-text rows are dropped at intake, not NPE'd") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val rows = java.util.Arrays.asList(
      Row(1L, "real words in this document body here"),
      Row(2L, null),
      Row(3L, "other real words forming a second document"))
    val df = spark.createDataFrame(rows, schema)
    val (out, stats) = CurateMain.run(spark, df, None, CurateMain.Args())
    assert(stats.inputDocs == 2)
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet.subsetOf(Set(1L, 3L)))
    out.unpersist()
  }

  /** The planted corpus of the "gates compose" test and its benchmark:
    * base docs + prefix twins (dupCoverage drops the whole planted family)
    * + a banner line on every 5th doc (line strip removes it); the
    * benchmark is the 12-token question prefix of every 20th doc. */
  private def planted: (DataFrame, DataFrame) = {
    val toks = split(col("text"), " ")
    val half = floor(size(toks) / 2).cast("int")
    val base = concat_ws("\n",
      array_join(slice(toks, lit(1), half), " "),
      array_join(slice(toks, half + 1, size(toks) - half), " "))
    val lined = docs.select(col("doc_id"),
      when(col("doc_id") % 5 === 0, concat(lit("visit our sponsor\n"), base))
        .otherwise(base).as("text"))
    val corpus = graft.ops.Dedup.withPlantedNearDups(lined)
    val qtoks = filter(split(lower(trim(col("text"))), "\\s+"), t => t =!= "")
    val benchmark = docs.filter(col("doc_id") % 20 === 0 && size(qtoks) >= 8)
      .select(array_join(slice(qtoks, 1, 12), " ").as("text"))
    (corpus, benchmark)
  }

  /** The six stats as direct counts of the frames the gates compute,
    * built and counted one by one. */
  private def directStats(corpus: DataFrame, benchmark: DataFrame, args: CurateMain.Args): CurateMain.Stats = {
    val intake = corpus.select(col("doc_id"), col("text")).filter(col("text").isNotNull)
    val lined = LineDedup.stripRepeatedLines(intake, args.lineMinDf).filter(col("text") =!= "")
    val quality = Curation.curate(spark, lined).select(col("doc_id"))
    val span = DupSpans.dupCoverage(spark, lined, args.gramK)
      .filter(col("dup_tokens") * 1000 <= col("n_tokens") * args.maxDupPermille)
      .select(col("doc_id"))
    val contam = Decontaminate.contaminationHits(spark, lined, benchmark, args.gramK)
      .select(col("doc_id"))
    val output = lined.join(quality, Seq("doc_id"), "left_semi")
      .join(span, Seq("doc_id"), "left_semi")
      .join(contam, Seq("doc_id"), "left_anti")
    CurateMain.Stats(intake.count(), lined.count(), quality.count(),
      span.count(), contam.count(), output.count())
  }

  test("pipeline: gates compose — banner lines stripped, near-dup family span-gated, benchmark overlap dropped") {
    val (corpus, benchmark) = planted
    val (out, stats) = CurateMain.run(spark, corpus, Some(benchmark), CurateMain.Args())
    val outIds = out.select("doc_id").collect().map(_.getLong(0)).toSet

    assert(stats.inputDocs == corpus.count())
    assert(stats.outputDocs == outIds.size.toLong)
    assert(stats.outputDocs > 0)
    // the planted near-dup family (sources %10==0 and their twins): the
    // LINE strip already eats the halves shared verbatim between source and
    // twin, so a member reaching the span gate with >= 10 surviving tokens
    // still shares an 8-gram with its relative and is dropped; the only
    // legitimate survivors are members whose post-strip remainder is too
    // short to carry any shared 8-gram
    val familySurvivors = out.filter(col("doc_id") >= 1000000L || col("doc_id") % 10 === 0)
    assert(familySurvivors
      .filter(size(filter(split(col("text"), "\\s+"), t => t =!= "")) >= 10)
      .count() == 0)
    val familySize = corpus.filter(col("doc_id") >= 1000000L || col("doc_id") % 10 === 0).count()
    assert(familySurvivors.count() * 5 <= familySize, "span gate should drop the vast majority of the family")
    // no surviving text contains the banner line
    assert(out.filter(col("text").contains("visit our sponsor")).count() == 0)
    // no surviving doc shares an 8-gram with the benchmark
    val contam = graft.ops.Decontaminate
      .contaminationHits(spark, out, benchmark, 8)
    assert(contam.count() == 0)
    // stats line is self-consistent: output <= every keep gate
    assert(stats.outputDocs <= stats.keptQuality)
    assert(stats.outputDocs <= stats.keptSpanGate)
  }

  test("pipeline: a no-benchmark rerun is deterministic") {
    val corpus = docs.select(col("doc_id"), col("text"))
    val (out1, s1) = CurateMain.run(spark, corpus, None, CurateMain.Args())
    // -1 = no benchmark given, so a consumer can tell "never ran" from
    // "ran and matched zero"; every other gate always runs
    assert(s1.contaminated == -1L)
    assert(Seq(s1.inputDocs, s1.afterLineStrip, s1.keptQuality, s1.keptSpanGate,
      s1.outputDocs).forall(_ >= 0L), s1)
    val (out2, s2) = CurateMain.run(spark, corpus, None, CurateMain.Args())
    assert(s1 == s2)
    assert(out1.orderBy("doc_id").collect().toSeq == out2.orderBy("doc_id").collect().toSeq)
    out1.unpersist()
    out2.unpersist()
  }

  test("stats: each observed count equals a direct count of the frame it taps; a null doc_id counts at intake only") {
    val (corpus, benchmark) = planted
    val args = CurateMain.Args()
    val (out, stats) = CurateMain.run(spark, corpus, Some(benchmark), args)
    assert(stats == directStats(corpus, benchmark, args))
    out.unpersist()

    // a row with a null doc_id is counted at intake and by no later gate:
    // it can never reach the output (the keep sets join on doc_id)
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val orphan = spark.createDataFrame(java.util.Arrays.asList(
      Row(null, "an orphan page body with plenty of distinct words that no other document shares")), schema)
    val (outNull, statsNull) =
      CurateMain.run(spark, corpus.unionByName(orphan), Some(benchmark), args)
    assert(statsNull == stats.copy(inputDocs = stats.inputDocs + 1))
    outNull.unpersist()
  }

  test("job and cache budget: construction-pure runs no job; stats mode persists the output once and counts it once") {
    val (corpus, benchmark) = planted
    val sc = spark.sparkContext
    // job -> root SQL execution description (the action's call site, also
    // for the query-stage jobs adaptive execution submits)
    val execs = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execs.put(x.executionId, x.rootExecutionId.flatMap(r => Option(execs.get(r))).getOrElse(x.description)); ()
        case _ => ()
      }
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val exec = Option(js.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        sites.add(exec.flatMap(id => Option(execs.get(id.toLong))).getOrElse(s"job ${js.jobId} outside SQL")); ()
      }
    }
    shim.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      CurateMain.run(spark, corpus, Some(benchmark), CurateMain.Args(), computeStats = false)
      shim.waitUntilEmpty(sc)
      assert(sites.isEmpty, s"construction-pure run submitted jobs: $sites")

      val cachedBefore = sc.getPersistentRDDs.keySet
      val (out, _) = CurateMain.run(spark, corpus, Some(benchmark), CurateMain.Args())
      shim.waitUntilEmpty(sc)
      assert(sc.getPersistentRDDs.keySet.diff(cachedBefore).size == 1)
      val distinctSites = sites.toArray(Array.empty[String]).toSet
      assert(distinctSites.size == 1 && distinctSites.head.startsWith("count at CurateMain"),
        s"jobs came from: $distinctSites")
      out.unpersist()
    } finally sc.removeSparkListener(listener)
  }

  test("plan shape: one keyed pass, the strip's rebuild once per consumer, four shuffles") {
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    import org.apache.spark.sql.execution.{MapPartitionsExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val (corpus, benchmark) = planted
    val (out, _) = CurateMain.run(spark, corpus, Some(benchmark), CurateMain.Args(),
      computeStats = false)
    out.collect()
    // the plan adaptive execution ran: a reused exchange or query stage is
    // a leaf there, so each node counted below runs once per action
    val plan = out.queryExecution.executedPlan
    def count(p: SparkPlan => Boolean): Int =
      new AdaptiveSparkPlanHelper {}.collect(plan) { case n if p(n) => n }.size
    val counts = (
      count(_.isInstanceOf[MapPartitionsExec]),
      // the strip's rebuild: the corpus joined with its removed-line sets
      count {
        case j: BroadcastHashJoinExec =>
          j.joinType == LeftOuter && j.right.output.exists(_.name == "removed")
        case _ => false
      },
      count(_.isInstanceOf[ShuffleExchangeExec]))
    // one typed pass tokenizes each doc; the rebuild runs under the keyed
    // pass and under the output's semi-join; the shuffles are the strip's
    // doc_id spread and line-digest count, the gates' key and doc_id
    assert(counts == ((1, 2, 4)), plan.toString)
  }

  test("stats: docs shorter than k, a whitespace-only doc and a gram repeated inside one doc match the standalone ops") {
    import spark.implicits._
    val (corpus, benchmark) = planted
    val args = CurateMain.Args()
    val k = args.gramK
    val edge = Seq(
      // fewer than k tokens: its whole run is its one gram, as it is for
      // the first benchmark item below
      3000001L -> "Zeta ypsilon xi",
      3000002L -> "Omikron pi rho sigma",
      // no token at all: the empty run, as for the blank benchmark item
      3000003L -> " \t ",
      // one k-gram twice and nowhere else: covers 16 of its 18 tokens
      3000004L -> (Seq.fill(2)((1 to k).map(i => s"selfgram$i").mkString(" ")) :+ "tail end").mkString(" "))
      .toDF("doc_id", "text")
    val edgeBench = Seq("zeta  YPSILON xi", "  ").toDF("text")
    val docsAll = corpus.unionByName(edge)
    val benchAll = benchmark.unionByName(edgeBench)
    val (out, stats) = CurateMain.run(spark, docsAll, Some(benchAll), args)
    assert(stats == directStats(docsAll, benchAll, args))
    out.unpersist()

    // doc by doc on the edge docs: the fused verdicts against the standalone ops
    def ids(df: DataFrame): Set[Long] = df.select("doc_id").as[Long].collect().toSet
    val v = Curation.gates(spark, edge, Some(edgeBench), k, args.maxDupPermille)
    val spanOk = ids(DupSpans.dupCoverage(spark, edge, k)
      .filter(col("dup_tokens") * 1000 <= col("n_tokens") * args.maxDupPermille))
    val hits = ids(Decontaminate.contaminationHits(spark, edge, edgeBench, k))
    assert(ids(v.filter(col("span_ok")).toDF()) == spanOk)
    assert(ids(v.filter(col("contaminated")).toDF()) == hits)
    assert(ids(v.filter(col("keeper")).toDF()) == ids(Curation.curate(spark, edge)))
    assert(hits == Set(3000001L, 3000003L))
    assert(spanOk == Set(3000001L, 3000002L, 3000003L))
  }

  test("stats: a gate that empties the chain still reports every gate's count") {
    // three-word docs: the quality gate keeps none of them, so adaptive
    // execution prunes the other gates' subtrees from the output's plan
    val (corpus, benchmark) = planted
    val short = corpus.select(col("doc_id"),
      concat_ws(" ", slice(split(col("text"), " "), 1, 3)).as("text"))
    val (out, stats) = CurateMain.run(spark, short, Some(benchmark), CurateMain.Args())
    assert(stats.keptQuality == 0 && stats.outputDocs == 0)
    assert(stats == directStats(short, benchmark, CurateMain.Args()))
    out.unpersist()
  }
}
