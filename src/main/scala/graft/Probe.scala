package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.operators.Similarity

/** Measurement main with three modes, each a function over a session:
  *
  * {{{
  *   sbt "runMain graft.Probe plan  <sfDir> <outDir> <query,…|all> [k=v;…] [suffix]"
  *   sbt "runMain graft.Probe setup <sfDir>"
  *   sbt "runMain graft.Probe ab    <sfDir> <query> <k=v;…> [reps]"
  * }}}
  *
  * `plan` writes each query's formatted plan, `setup` times the PQ/IVF
  * provisioning cold, and `ab` prices session settings on one query: side
  * A runs the session as built, side B with the `k=v;…` settings, e.g.
  * `spark.graft.bnljBarrier=false` (the BNLJ barrier off) or
  * `spark.sql.optimizer.excludedRules=graft.plans.RewriteTokenCount`.
  * SPARK_GRAFT_CPUS sets the cores (default 4). */
object Probe {

  /** An `ab` record: the row count both sides returned, each side's
    * seconds per rep, and the codegen compiles during the timed reps. */
  final case class AbResult(rows: Int, a: Seq[Double], b: Seq[Double], compiles: Long)

  /** `k=v;k=v` → settings; empty entries are skipped. */
  def parseConf(s: String): Seq[(String, String)] =
    s.split(';').toSeq.filter(_.nonEmpty).map(_.split("=", 2) match {
      case Array(k, v) => k.trim -> v.trim
      case other => throw new IllegalArgumentException(s"expected k=v, got '${other.mkString}'")
    })

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, throw new IllegalArgumentException(s"unknown query $name"))

  /** Fails, naming the key, if the running session refuses a key of
    * `conf`: a static SQL conf or a Spark core conf is fixed when the JVM
    * starts its first session, and `ab` would otherwise die only after
    * side A had run. Each key is set and restored once, so the session's
    * own check decides. (`spark.conf.isModifiable` is no test here: it is
    * false for every key Spark does not register, such as
    * `spark.graft.bnljBarrier`, which the session takes.) */
  private[graft] def requireSettable(spark: SparkSession, conf: Seq[(String, String)]): Unit =
    conf.foreach { case (k, v) =>
      try withConf(spark, Seq(k -> v))(())
      catch { case e: AnalysisException =>
        throw new IllegalArgumentException(s"$k is a static conf, which a running session " +
          s"cannot change: pass it as a JVM flag (-D$k=<value>) instead (${e.getMessage})", e)
      }
    }

  /** Runs `f` with `conf` set, then restores each key's earlier value. */
  private def withConf[T](spark: SparkSession, conf: Seq[(String, String)])(f: => T): T = {
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `plan`'s text with every source line number and JVM identity
    * masked. An RDD's name carries its call site (`at localCheckpoint at
    * Multimodal.scala:830`), which any edit above that line moves; an
    * array literal or a lambda prints its class and identity hash
    * (`[[D@188467fe`, `Multimodal$$$Lambda$5244/0x00007fe1f13edbe0@337a9406`),
    * which every JVM numbers anew. Written as `Multimodal.scala:_`,
    * `[[D@_` and `Lambda/_@_`, two plans differ only where the plans do. */
  private[graft] def maskCallSites(plan: String): String = plan
    .replaceAll("""(\.scala):\d+""", "$1:_")
    .replaceAll("""(Lambda)(\$\d+)?/0x\p{XDigit}+""", "$1/_")
    .replaceAll("""(?<=[\w$;\[])@\p{XDigit}+\b""", "@_")

  /** Writes `explain("formatted")` of each query, under `conf`, to
    * `<outDir>/<query><suffix>.txt` with [[maskCallSites]] applied, and
    * returns the files written; a query that fails to plan is reported
    * and skipped. Building a query's DataFrame may provision its
    * build-once artifact, the warm-artifact plan shape the bench times. */
  def plan(spark: SparkSession, sfDir: String, outDir: String, queries: Seq[String],
      conf: Seq[(String, String)] = Nil, suffix: String = ""): Seq[Path] = {
    val fns = queries.map(q => q -> query(q))
    requireSettable(spark, conf)
    Files.createDirectories(Paths.get(outDir))
    withConf(spark, conf) {
      fns.flatMap { case (name, fn) =>
        try Some(Files.writeString(Paths.get(outDir, s"$name$suffix.txt"),
          maskCallSites(fn(spark, sfDir).queryExecution.explainString(FormattedMode))))
        catch { case e: Exception =>
          System.err.println(s"[probe] $name failed: ${e.getMessage}")
          None
        }
      }
    }
  }

  /** Times the PQ/IVF model and index provisioning cold: the warehouse
    * artifacts derived from `sfDir` and the in-memory model tiers are
    * dropped first, so the untimed set-up cost is measured on its own. */
  def setup(spark: SparkSession, sfDir: String): Unit = {
    graft.sources.Artifacts.entries(sfDir)
      .filter(f => Seq("pq_", "ivfpq_", "ivf_model_").exists(f.getName.startsWith))
      .foreach { f =>
        println(s"[probe] dropping ${f.getName}")
        org.apache.commons.io.FileUtils.deleteDirectory(f)
      }
    graft.sources.Tables.forget(Similarity.IvfModels, Similarity.PqModels)
    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[probe] $label%-24s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    time("TOTAL") {
      time("ivf_model (3 iters)")(Similarity.trainIvfCentroids(spark, sfDir))
      time("ivf_model corpusOnly")(Similarity.trainIvfCentroids(spark, sfDir, corpusOnly = true))
      time("pq_model (2 iters)")(Similarity.trainPqCodebooks(spark, sfDir))
      time("pq_model corpusOnly")(Similarity.trainPqCodebooks(spark, sfDir, corpusOnly = true))
      time("pq_codes encode")(Similarity.pqCodesTable(spark, sfDir).count())
      time("ivfpq_index encode")(Similarity.ivfPqIndexTable(spark, sfDir).count())
      time("ivfpq_cand probe")(Similarity.ivfPqCandTable(spark, sfDir).count())
    }
  }

  /** Same-session A/B of `conf` on one query. The two sides must return
    * the same rows (as a multiset); then one untimed pass each, then
    * `reps` timed passes each, the side that runs first alternating per
    * rep so neither rides the warmer slot. A pass builds the DataFrame
    * and writes it to the noop sink. */
  def ab(spark: SparkSession, sfDir: String, name: String, conf: Seq[(String, String)],
      reps: Int): AbResult = {
    val fn = query(name)
    requireSettable(spark, conf)
    def side[T](b: Boolean)(act: DataFrame => T): T =
      if (b) withConf(spark, conf)(act(fn(spark, sfDir))) else act(fn(spark, sfDir))
    val rowsA = side(b = false)(_.collect().toSeq)
    val rowsB = side(b = true)(_.collect().toSeq)
    if (rowsA.diff(rowsB).nonEmpty || rowsB.diff(rowsA).nonEmpty)
      throw new IllegalStateException(
        s"$name: sides differ (A ${rowsA.size} rows, B ${rowsB.size} rows)")
    println(s"[ab] $name: sides row-identical (${rowsA.size} rows)")
    def pass(b: Boolean): Double = {
      val t0 = System.nanoTime()
      side(b)(_.write.format("noop").mode("overwrite").save())
      (System.nanoTime() - t0) / 1e9
    }
    pass(false); pass(true)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val compiled0 = compiles.getCount
    val timed = (1 to reps).map { r =>
      if (r % 2 == 1) { val a = pass(false); (a, pass(true)) }
      else { val b = pass(true); (pass(false), b) }
    }
    val result = AbResult(rowsA.size, timed.map(_._1), timed.map(_._2),
      compiles.getCount - compiled0)
    def fmt(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(",")
    println(f"[ab] $name A min=${result.a.min}%.3f reps=[${fmt(result.a)}]")
    println(f"[ab] $name B min=${result.b.min}%.3f reps=[${fmt(result.b)}] (${conf.map { case (k, v) => s"$k=$v" }.mkString(";")})")
    println(s"[ab] codegen compiles during the timed reps: ${result.compiles}")
    result
  }

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args.toList match {
      case "plan" :: sfDir :: outDir :: qs :: rest =>
        val names = if (qs == "all") SparkEntry.queries.keys.toSeq.sorted else qs.split(',').toSeq
        val conf = parseConf(rest.headOption.getOrElse(""))
        spark => plan(spark, sfDir, outDir, names, conf, rest.lift(1).getOrElse(""))
      case "setup" :: sfDir :: Nil => spark => setup(spark, sfDir)
      case "ab" :: sfDir :: q :: conf :: rest =>
        query(q)
        val settings = parseConf(conf)
        val reps = rest.headOption.fold(7)(_.toInt)
        spark => ab(spark, sfDir, q, settings, reps)
      case _ => throw new IllegalArgumentException(
        "usage: Probe plan <sfDir> <outDir> <query,…|all> [k=v;…] [suffix] | " +
          "setup <sfDir> | ab <sfDir> <query> <k=v;…> [reps]")
    }
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark) finally spark.stop()
  }
}
