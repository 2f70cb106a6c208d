package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round instrumentation (guide §1.4/§1.5): times individual
  * registered queries in isolation through the noop sink (every column of
  * every row materializes, no count-rewrite pruning) and dumps
  * `.explain("formatted")` plans. NOT part of the frozen driver contract —
  * `graft.Bench` is the measured surface; this main exists so before/after
  * numbers and plan shapes in OPTIMIZATION_r07.md are reproducible.
  *
  * Usage:
  *   sbt "runMain graft.BenchExtra plans <outDir> [name ...]"
  *   sbt "runMain graft.BenchExtra time <reps> [name ...]"
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 4) — same contract as Bench.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val mode = args.headOption.getOrElse("time")
    mode match {
      case "plans" =>
        val outDir = args(1)
        val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
        new java.io.File(outDir).mkdirs()
        names.foreach { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          // explain(formatted) writes to stdout; capture via the internal API
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/$name.txt"), txt)
          System.err.println(s"[plans] wrote $name")
        }
      case "time" =>
        val reps = args(1).toInt
        val names = args.drop(2).toSeq
        def runOnce(name: String): Double = {
          spark.sparkContext.setJobDescription(s"benchextra: $name")
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        // round-robin passes (same storm-proofing rationale as Bench)
        val vectors = names.map(n => n -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
        for (_ <- 1 to reps; n <- names) vectors(n) += runOnce(n)
        val json = names.map { n =>
          val v = vectors(n)
          val s = v.map(t => f"$t%.4f").mkString("[", ",", "]")
          "\"" + n + "\":{\"min\":" + f"${v.min}%.4f" + ",\"reps\":" + s + "}"
        }.mkString("{", ",", "}")
        println(json)
      case "stages" =>
        // per-stage profile of one query: warm rep, then a measured rep with
        // a stage listener — prints (stageId, numTasks, ms, name head)
        val name = args(1)
        val fn = SparkEntry.queries(name)
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val stages = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, String)]
        val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val ms = for {
              a <- si.submissionTime; b <- si.completionTime
            } yield b - a
            stages.synchronized {
              stages += ((si.stageId, si.numTasks, ms.getOrElse(-1L),
                si.name.take(60)))
            }
            ()
          }
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jobs.incrementAndGet(); ()
          }
        }
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        org.apache.spark.sql.graft.shim.waitUntilEmpty(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        println(f"[stages] $name wall=$wall%.3fs jobs=${jobs.get()}")
        stages.sortBy(_._1).foreach { case (id, n, ms, nm) =>
          println(f"[stages]   stage=$id%-4d tasks=$n%-4d ms=$ms%-7d $nm")
        }
      case "planstr" =>
        // raw executedPlan.toString (the representation PlanSpec gates on)
        args.drop(1).foreach { name =>
          println(s"===== $name =====")
          println(SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString)
        }
      case "planfinal" =>
        // execute, then print the AQE-final plan (shows ReusedShuffleQueryStage)
        args.drop(1).foreach { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          df.queryExecution.toRdd.foreach(_ => ())
          println(s"===== $name (final) =====")
          println(df.queryExecution.executedPlan.toString)
        }
      case "stress" =>
        // replicate the frozen Bench's dedup-family stressor inputs so the
        // minhash/simhash at-scale shapes can be timed in isolation
        import org.apache.spark.sql.functions._
        val reps = args(1).toInt
        val replicate = 20
        val d = spark.read.parquet(s"$sfDir/documents.parquet")
        val repl = d.select(col("doc_id"), col("text"))
          .withColumn("rep", explode(sequence(lit(0), lit(replicate - 1))))
          .select((col("doc_id") * replicate + col("rep")).as("doc_id"), col("text"))
        val planted = graft.ops.Dedup.withPlantedNearDups(repl)
        val minhash = graft.ops.Dedup.minhashLshPairs(spark, planted)
        val simhash = graft.ops.Dedup.simhashPairs(spark, planted)
        val thunks = Seq(
          "minhash_dedup_repl" -> (() => { minhash.count(); () }),
          "simhash_dedup_repl" -> (() => { simhash.count(); () }))
        val vectors = thunks.map { case (n, _) => n -> scala.collection.mutable.ArrayBuffer.empty[Double] }.toMap
        val stages = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val ms = for { a <- si.submissionTime; b <- si.completionTime } yield b - a
            stages.synchronized { stages += ((si.stageId, si.numTasks, ms.getOrElse(-1L))) }
            ()
          }
        }
        spark.sparkContext.addSparkListener(listener)
        for (r <- 1 to reps; (n, t) <- thunks) {
          stages.synchronized(stages.clear())
          spark.sparkContext.setJobDescription(s"stress: $n")
          val t0 = System.nanoTime()
          t()
          val dt = (System.nanoTime() - t0) / 1e9
          vectors(n) += dt
          org.apache.spark.sql.graft.shim.waitUntilEmpty(spark.sparkContext)
          System.err.println(f"[stress-stages] $n rep$r ($dt%.2fs): " +
            stages.synchronized(stages.sortBy(_._1).toList)
              .map { case (id, nt, ms) => s"$id/${nt}t/${ms}ms" }.mkString(" "))
        }
        spark.sparkContext.removeSparkListener(listener)
        println(vectors.map { case (n, v) =>
          "\"" + n + "\":{\"min\":" + f"${v.min}%.4f" + ",\"reps\":" +
            v.map(t => f"$t%.4f").mkString("[", ",", "]") + "}"
        }.mkString("{", ",", "}"))
        if (args.length > 2 && args(2) == "plans") {
          System.err.println("===== minhash_dedup_repl (AQE-final) =====")
          System.err.println(minhash.queryExecution.executedPlan.toString)
          System.err.println("===== simhash_dedup_repl (AQE-final) =====")
          System.err.println(simhash.queryExecution.executedPlan.toString)
        }
      case "lshab" =>
        // A/B: candidatesOf as shipped vs a member-set-dedup variant that
        // collapses identical bucket member lists (sorted) before pair
        // emission — same pair set, ~bands× fewer rows into the pair
        // distinct when buckets repeat across bands (exact-dup clusters).
        import org.apache.spark.sql.functions._
        import graft.ops.Dedup
        val reps = args(1).toInt
        val replicate = 20
        val d = spark.read.parquet(s"$sfDir/documents.parquet")
        val repl = d.select(col("doc_id"), col("text"))
          .withColumn("rep", explode(sequence(lit(0), lit(replicate - 1))))
          .select((col("doc_id") * replicate + col("rep")).as("doc_id"), col("text"))
        val planted = Dedup.withPlantedNearDups(repl)
        val cfg = Dedup.LshConfig()
        val banded = Dedup.bandHashRows(spark, planted, cfg)
        import spark.implicits._
        def variantB = {
          banded
            .groupBy(col("band"), col("band_hash"))
            .agg(collect_list(col("doc_id")).as("ids"))
            .filter(size(col("ids")) > 1 && size(col("ids")) <= cfg.maxBucket)
            .select(array_sort(col("ids")).as("ids"))
            .distinct()
            .select(col("ids")).as[Seq[Long]]
            .flatMap { ids =>
              val s = ids.toArray
              for {
                i <- s.indices.iterator.take(s.length - 1)
                j <- (i + 1 until s.length).iterator
              } yield (s(i), s(j))
            }
            .toDF("a", "b")
            .distinct()
        }
        val thunksAb = Seq(
          "A_shipped" -> (() => { Dedup.candidatesOf(banded, cfg).count(); () }),
          "B_setdedup" -> (() => { variantB.count(); () }))
        val vab = thunksAb.map { case (n, _) => n -> scala.collection.mutable.ArrayBuffer.empty[Double] }.toMap
        for (r <- 1 to reps; (n, t) <- thunksAb) {
          spark.sparkContext.setJobDescription(s"lshab: $n")
          val t0 = System.nanoTime()
          t()
          vab(n) += (System.nanoTime() - t0) / 1e9
        }
        System.err.println("counts: A=" + Dedup.candidatesOf(banded, cfg).count() +
          " B=" + variantB.count())
        println(vab.map { case (n, v) =>
          "\"" + n + "\":{\"min\":" + f"${v.min}%.4f" + ",\"reps\":" +
            v.map(t => f"$t%.4f").mkString("[", ",", "]") + "}"
        }.mkString("{", ",", "}"))
      case other => sys.error(s"unknown mode: $other")
    }
    spark.stop()
  }
}
