package graft

/** Measurement main for interleaved same-session A/B adjudications (r19;
  * the q107/q34b protocol): two plan variants of one query, alternated
  * rep-by-rep with the order swapped each rep so neither form
  * systematically rides the warmer slot. Noop sink, min-of-reps reported.
  *
  * Usage: `sbt "runMain graft.AbProbe <what> [sfDir] [reps]"` where
  * `what` is one of q34b_full / q34b_banded / q33 / q33_wscg /
  * q33_barrier / q81_barrier / q77_barrier (A = production, B = variant).
  */
object AbProbe {
  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse("q34b_full")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 7
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val bandedOnly = what == "q34b_banded"
    // q33_wscg mode: B is the SAME kernel plan with whole-stage codegen
    // off — isolates "fusion shape" from "expression cost"
    val wscgMode = what == "q33_wscg"
    // *_barrier modes: A = production plan (InsertBnljStreamBarrier on),
    // B = the identical query with the barrier rule disabled — prices the
    // r19 BNLJ streamed-projection barrier on its own
    val barrierMode = what.endsWith("_barrier")
    def build(useHof: Boolean) = {
      if (wscgMode)
        spark.conf.set("spark.sql.codegen.wholeStage", (!useHof).toString)
      if (barrierMode) {
        spark.conf.set("spark.graft.bnljBarrier", (!useHof).toString)
        what match {
          case "q33_barrier" => graft.operators.Similarity.knnBrute(spark, dir)
          case "q81_barrier" => graft.operators.Similarity.quantizedAnnTopK(spark, dir)
          case "q77_barrier" => graft.operators.Similarity.hybridRrfTopDocs(spark, dir)
          case other => throw new IllegalArgumentException(other)
        }
      }
      else if (what.startsWith("q33")) graft.operators.Similarity.knnBruteProbeVariant(
        spark, dir, useHof = if (wscgMode) false else useHof)
      else graft.operators.Similarity.embLshProbeVariant(spark, dir, useHof, bandedOnly)
    }
    def once(useHof: Boolean): Double = {
      if (wscgMode)
        spark.conf.set("spark.sql.codegen.wholeStage", (!useHof).toString)
      val t0 = System.nanoTime()
      build(useHof).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    if (what == "q33_count") {
      // run once fused (default) and once with WSCG off; print DecVecDot
      // call counts (-Dgraft.diag.deccount=true required)
      for (wscg <- Seq(true, false)) {
        spark.conf.set("spark.sql.codegen.wholeStage", wscg.toString)
        graft.functions.DecVecDot.DiagCount.set(0)
        graft.operators.Similarity.knnBruteProbeVariant(spark, dir, useHof = false)
          .write.format("noop").mode("overwrite").save()
        println(s"[ab] q33 wscg=$wscg dec_dot_calls=${graft.functions.DecVecDot.DiagCount.get}")
      }
      spark.stop(); return
    }
    if (what == "q33_codegen") {
      // execute (so AQE finalizes), then print each WSCG stage's
      // generated source size + compiled maxMethodCodeSize
      val df = graft.operators.Similarity.knnBruteProbeVariant(spark, dir, useHof = false)
      df.collect() // execute THIS QueryExecution so AQE finalizes its stages
      val finalPlan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        p.foreach {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
            val (_, source) = w.doCodeGen()
            val (_, maxMethod) = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
              .compile(source)
            println(s"[codegen] stage ${w.codegenStageId}: src ${source.body.length} chars, " +
              s"maxMethodCodeSize $maxMethod :: ${w.child.getClass.getSimpleName}")
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
          case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => walk(b.child)
          case _ =>
        }
      }
      walk(finalPlan)
      println(finalPlan.toString.linesIterator.take(40).mkString("\n"))
      spark.stop(); return
    }
    // row-identity check before timing (the q86 protocol)
    val a = build(useHof = false).collect().toSeq
    val b = build(useHof = true).collect().toSeq
    require(a == b, s"variant outputs differ: kernel ${a.size} rows vs hof ${b.size}")
    println(s"[ab] $what: variants row-identical (${a.size} rows)")
    // warmup one pass each
    once(false); once(true)
    val kernelReps = scala.collection.mutable.ArrayBuffer.empty[Double]
    val hofReps = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (r <- 1 to reps) {
      if (r % 2 == 1) { kernelReps += once(false); hofReps += once(true) }
      else { hofReps += once(true); kernelReps += once(false) }
    }
    def fmt(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(",")
    println(f"[ab] $what kernel min=${kernelReps.min}%.3f reps=[${fmt(kernelReps.toSeq)}]")
    println(f"[ab] $what hof    min=${hofReps.min}%.3f reps=[${fmt(hofReps.toSeq)}]")
    // the histogram keeps a reservoir sample, so its mean is an estimate
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    println(f"[ab] codegen compilations: ${compiles.getCount} " +
      f"(sampled mean ms ${compiles.getSnapshot.getMean * 0.000001}%.3f)")
    spark.stop()
  }
}
