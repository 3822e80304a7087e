package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.clf.{LogAnalysisJob, LogParser}
import graft.streaming.StreamingAnalytics

/** The benchmark's JVM side: runs one workload through the program's
  * public entry points for a fixed time in whole rounds and writes every
  * timing and output to a JSON file. `perfbench/run.py` builds this,
  * launches it, checks the outputs and prints the report.
  *
  * Arguments (all `--key value`): workload, seconds, trace (0|1), input
  * (CLF directory or table directory), work (private scratch directory),
  * out (result file), min-rounds (default 1), and for the workloads that need them:
  * files-per-trigger (clf_stream), queries and provision (query_mix, each
  * a comma-separated list). */
object Main {

  final case class Op(name: String, ms: Double, error: Option[String])

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def phase(what: String): Unit = System.err.println(f"[perfbench] ${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.2f s: $what")

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(o("work")).getAbsolutePath
    redirectArtifacts(s"$work/artifacts")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    phase("session ready")
    val trace = if (o("trace") == "1") Some(new Trace(spark)) else None
    trace.foreach(_.start())
    val bench = new Bench(spark, trace, o("input"), work, o("seconds").toDouble,
      o.getOrElse("min-rounds", "1").toInt)
    val result = o("workload") match {
      case "clf_batch" => bench.clfBatch()
      case "clf_stream" => bench.clfStream(o("files-per-trigger").toInt)
      case "query_mix" => bench.queryMix(
        o("queries").split(',').toSeq, o("provision").split(',').filter(_.nonEmpty).toSeq)
      case "dump_oracle" => graft.SparkEntry.oracleSql.filter { case (k, _) =>
        o("queries").split(',').contains(k) }
      case w => sys.error(s"unknown workload $w")
    }
    Files.writeString(Paths.get(o("out")), Json(result + ("peak_rss_mb" -> peakRssMb())))
    spark.stop()
  }

  /** Artifacts.Warehouse is a fixed directory shared by every session on
    * the machine, so artifacts left by earlier runs would be reused and
    * set-up time would flip between building and reusing. Each benchmark
    * run points it at a fresh directory of its own inside the checkout
    * before any operator reads it. The constant compiles to a static final
    * field, which only Unsafe can overwrite. */
  private def redirectArtifacts(dir: String): Unit = {
    val module = graft.sources.Artifacts // runs the initializer first
    val field = module.getClass.getDeclaredField("Warehouse")
    val theUnsafe = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    theUnsafe.setAccessible(true)
    val unsafe = theUnsafe.get(null).asInstanceOf[sun.misc.Unsafe]
    unsafe.putObject(unsafe.staticFieldBase(field), unsafe.staticFieldOffset(field), dir)
    require(graft.sources.Artifacts.Warehouse == dir, "artifact directory was not redirected")
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)
}

final class Bench(spark: SparkSession, trace: Option[Trace], input: String, work: String,
    seconds: Double, minRounds: Int) {
  import Main.Op

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var firstOpMs = 0L

  private def timed[T](f: => T): (Double, Either[String, T]) = {
    val t0 = System.nanoTime()
    val r = try Right(f) catch { case e: Exception =>
      Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }
    ((System.nanoTime() - t0) / 1e6, r)
  }

  /** Whole rounds, at least `minRounds`, until `seconds` have passed since
    * the first timed one. Each round returns its operations and outputs; the
    * loop adds its wall and process CPU time and, when traced, its per-layer
    * counter deltas. */
  private def rounds(round: Int => (Seq[Op], Map[String, Any])): Seq[Map[String, Any]] = {
    Main.phase("set-up done, timing starts")
    firstOpMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (out.size < minRounds || System.nanoTime() < deadline) {
      val before = trace.map(_.snapshot())
      val cpu0 = cpuBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val (ops, outputs) = round(out.size)
      val wallMs = (System.nanoTime() - t0) / 1e6
      val cpuMs = (cpuBean.getProcessCpuTime - cpu0) / 1e6
      val layers = for (t <- trace; b <- before) yield Trace.delta(t.snapshot(), b)
      out += Map("wall_ms" -> wallMs, "cpu_ms" -> cpuMs,
        "ops" -> ops.map(op => Seq(op.name, op.ms, op.error)),
        "outputs" -> outputs, "layers" -> layers.getOrElse(Map.empty))
    }
    Main.phase(s"timing ends after ${out.size} rounds")
    out.toSeq
  }

  private def result(rs: Seq[Map[String, Any]], extra: Map[String, Any] = Map.empty): Map[String, Any] =
    Map("first_op_ms" -> firstOpMs, "rounds" -> rs) ++ extra

  private def epochSec(t: Any): Long = t.asInstanceOf[java.sql.Timestamp].getTime / 1000

  private def storageMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  // ---- clf_batch: the reference job as a user runs it, once per round ----

  def clfBatch(): Map[String, Any] = {
    // warm-up: a few short rounds, so the JIT has settled before timing
    (1 to 3).foreach(_ => clfBatchRound(s"$input/part-000{0,1}.log"))
    Main.phase("warmed up")
    val rs = rounds(_ => clfBatchRound(input))
    // traced: the parse alone, with no cache, as the parser's share of the job
    val parseMs = if (trace.isEmpty) Nil else (1 to 3).map { _ =>
      timed(LogAnalysisJob.readClf(spark, input).write.format("noop").mode("overwrite").save())._1
    }
    result(rs, Map("parse_ms" -> parseMs))
  }

  private def clfBatchRound(path: String): (Seq[Op], Map[String, Any]) = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val outputs = mutable.Map.empty[String, Any]
    def op[T](name: String)(f: => T): Option[T] = {
      val (ms, r) = timed(f)
      ops += Op(name, ms, r.left.toOption)
      r.toOption
    }
    val valid = LogAnalysisJob.readClf(spark, path).cache()
    op("read_cache")(valid.count()).foreach(n => outputs("valid_lines") = n)
    if (trace.isDefined) outputs("storage_mb") = storageMb()
    op("busiest_host")(LogAnalysisJob.busiestHost(valid, "date").collect()).foreach { rows =>
      outputs("busiest_host") = rows.map(r => Seq(epochSec(r.get(0)), r.getString(1), r.getLong(2))).toSeq
    }
    op("unique_hosts")(LogAnalysisJob.uniqueHosts(valid, "date").collect()).foreach { rows =>
      outputs("unique_hosts") = rows.map(r => Seq(epochSec(r.get(0)), r.getLong(1))).toSeq
    }
    op("avg_bytes")(LogAnalysisJob.avgReplyBytes(valid, "date").collect()).foreach { rows =>
      outputs("avg_bytes") = rows.map(r => Seq(epochSec(r.get(0)), r.getLong(1))).toSeq
    }
    op("dead_letters")(LogParser.deadLetters(spark.read.text(path)).count()).foreach { n =>
      outputs("dead_letters") = n
    }
    valid.unpersist(blocking = true)
    (ops.toSeq, outputs.toMap)
  }

  // ---- clf_stream: the same log replayed as equal micro-batches ----

  private val streamQueries = Seq("windowed_user_counts", "unique_users", "avg_value", "first_event")

  def clfStream(filesPerTrigger: Int): Map[String, Any] = {
    // warm-up over the first micro-batch's files: an aggregation and a
    // deduplication, which between them load every operator the four use
    val firstFiles = (0 until filesPerTrigger).map(i => f"$i%04d").mkString("{", ",", "}")
    Seq("windowed_user_counts", "unique_users").foreach { q =>
      streamOnce(q, s"$input/part-$firstFiles.log", filesPerTrigger, "warmup")
      Main.phase(s"warmed up $q")
    }
    var lastState = Map.empty[String, Double]
    val warmupBatches = trace.map(_.batches().size).getOrElse(0)
    val rs = rounds { r =>
      val runs = streamQueries.map(q => q -> streamOnce(q, input, filesPerTrigger, s"r$r"))
      lastState = runs.flatMap(_._2._3).groupMapReduce(_._1)(_._2)(_ + _)
      (runs.flatMap(_._2._1), runs.map { case (q, (_, out, _)) => q -> out }.toMap)
    }
    // per micro-batch engine phases, from the progress reports (traced)
    val batches = trace.map { t =>
      val tasks = t.tasksPerBatch()
      t.batches().drop(warmupBatches).map { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
        d.toMap ++ Map(
          "stateCommit" -> p.stateOperators.map(_.commitTimeMs).sum.toDouble,
          "tasks" -> tasks.getOrElse(s"${p.id}/${p.batchId}", 0).toDouble)
      }
    }.getOrElse(Nil)
    result(rs, Map("state" -> lastState, "batches" -> batches))
  }

  /** One streaming query over `path` to completion with Trigger.AvailableNow.
    * Returns one Op per micro-batch, the final sink contents, and (traced)
    * the state size at its last batch. */
  private def streamOnce(q: String, path: String, filesPerTrigger: Int, tag: String)
      : (Seq[Op], Map[String, Any], Map[String, Double]) = {
    val events = LogParser.validLines(
        spark.readStream.option("maxFilesPerTrigger", filesPerTrigger.toLong).text(path))
      .select(col("date").as("ts"), col("host").as("user_id"), col("replyBytes").as("value"))
    // latest value per key, upserted at the sink on every micro-batch
    val latest = mutable.Map.empty[Seq[Any], Seq[Any]]
    var emitted = 0L
    val (df, mode, keyCols) = q match {
      case "windowed_user_counts" => (StreamingAnalytics.windowedUserCounts(events), "update", 2)
      case "unique_users" => (StreamingAnalytics.uniqueUsersPerWindow(events), "update", 1)
      case "avg_value" => (StreamingAnalytics.avgValuePerWindow(events), "update", 1)
      case "first_event" => (StreamingAnalytics.firstEventPerUser(events), "append", 0)
    }
    val ckpt = s"$work/checkpoints/$tag-$q"
    val (_, run) = timed {
      val query = df.writeStream
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val rows = batch.collect()
          emitted += rows.length
          rows.foreach { r =>
            val vals = r.toSeq.map {
              case t: java.sql.Timestamp => t.getTime / 1000
              case v => v
            }
            if (keyCols > 0) latest(vals.take(keyCols)) = vals.drop(keyCols)
            else latest(vals) = Nil
          }
        }
        .start()
      query.awaitTermination()
      query
    }
    deleteTree(new File(ckpt))
    run match {
      case Left(err) => (Seq(Op(q, 0.0, Some(err))), Map.empty, Map.empty)
      case Right(query) =>
        val progress = query.recentProgress.toSeq
        val ops = progress.map(p => Op(q, p.batchDuration.toDouble, None))
        val last = progress.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
        val out = Map(
          "input_rows" -> progress.map(_.numInputRows).sum,
          "dropped_by_watermark" ->
            progress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum,
          "emitted" -> emitted,
          "rows" -> sinkRows(q, latest))
        val state = Map(
          "stream.state_rows" -> last.map(_.numRowsTotal).sum.toDouble,
          "stream.state_mb" -> last.map(_.memoryUsedBytes).sum / 1048576.0)
        (ops, out, state)
    }
  }

  /** The sink's final answer: per window, the busiest user (ties to the
    * greatest user id, as the batch job's max(struct(cnt, host)) does) or
    * the latest aggregate row; for first_event, the emitted users per
    * window of their kept event. */
  private def sinkRows(q: String, latest: mutable.Map[Seq[Any], Seq[Any]]): Seq[Seq[Any]] = q match {
    case "windowed_user_counts" =>
      latest.toSeq.groupBy(_._1.head).toSeq.map { case (w, kv) =>
        val (k, v) = kv.maxBy { case (k, v) => (v.head.asInstanceOf[Long], k(1).toString) }
        Seq(w, k(1), v.head)
      }.sortBy(_.head.asInstanceOf[Long])
    case "first_event" =>
      latest.keys.toSeq.groupBy(k => k.head.asInstanceOf[Long] / (31L * 86400) * (31L * 86400))
        .toSeq.map { case (w, ks) => Seq(w, ks.map(_(1)).distinct.size) }
        .sortBy(_.head.asInstanceOf[Long])
    case _ =>
      latest.toSeq.map { case (k, v) => k ++ v }.sortBy(_.head.asInstanceOf[Long])
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  // ---- query_mix: a fixed list of SparkEntry queries ----

  def queryMix(names: Seq[String], provision: Seq[String]): Map[String, Any] = {
    val entry = graft.SparkEntry.queries
    val missing = names.filterNot(entry.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    // warm-up: every query that needs no artifact, once
    names.filterNot(provision.contains).foreach(n => timed(entry(n)(spark, input).collect()))
    Main.phase("queries warmed up")
    // artifact provisioning, from an empty artifact directory; it also
    // warms up the queries that build them
    val (provisionMs, _) = timed(provision.foreach { n =>
      entry(n)(spark, input).write.format("noop").mode("overwrite").save()
    })
    val built = Option(new File(s"$work/artifacts").listFiles).map(_.length).getOrElse(0)
    Main.phase(f"provisioned $built artifacts in ${provisionMs / 1000}%.2f s")
    val lastRows = mutable.Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    val rs = rounds { _ =>
      val constructMs = mutable.Map.empty[String, Double]
      val queryLayers = mutable.Map.empty[String, Map[String, Double]]
      val ops = names.map { n =>
        val before = trace.map(_.snapshot())
        val (ms, r) = timed {
          val t0 = System.nanoTime()
          val df = entry(n)(spark, input)
          constructMs(n) = (System.nanoTime() - t0) / 1e6
          (df.collect(), df.schema)
        }
        r.foreach(lastRows(n) = _)
        for (t <- trace; b <- before) queryLayers(n) = Trace.delta(t.snapshot(), b)
        Op(n, ms, r.left.toOption)
      }
      val outputs = Map("construct_ms" -> constructMs.toMap) ++
        (if (trace.isDefined) Map("storage_mb" -> storageMb(), "query_layers" -> queryLayers.toMap)
         else Map.empty)
      (ops, outputs)
    }
    // the last round's results, for the comparison with the DuckDB answers
    lastRows.foreach { case (n, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/results/$n")
    }
    val kernels = if (trace.isDefined) kernelCosts() else Map.empty[String, Double]
    result(rs, Map("provision_ms" -> provisionMs, "artifacts_built" -> built, "kernels" -> kernels))
  }

  /** ns per row of four graft_* kernels, through SQL over a fixed cached
    * table, each against a baseline query that scans the same columns. */
  private def kernelCosts(): Map[String, Double] = {
    val n = 200000L
    spark.sql(
      s"""SELECT id,
         |  transform(sequence(0, 63), i -> CAST(sin(id * 0.001 + i) AS FLOAT)) AS v,
         |  transform(sequence(0, 31), i -> concat('w', CAST((id * 31 + i * 17) % 997 AS STRING))) AS toks,
         |  transform(sequence(0, 63), i -> (id * 2654435761 + i * 40503) % 1000003) AS hs,
         |  lpad(hex(id * 1103515245 + 12345), 16, '0') AS h1,
         |  lpad(hex(id * 69069 + 1), 16, '0') AS h2
         |FROM range($n)""".stripMargin).cache().createOrReplaceTempView("perfbench_kernels")
    spark.table("perfbench_kernels").count()
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def cost(kernel: String, baseline: String): Double = {
      def t(expr: String) = median((1 to 7).map { _ =>
        timed(spark.sql(s"SELECT sum($expr) FROM perfbench_kernels").collect())._1
      })
      (t(kernel) - t(baseline)) * 1e6 / n
    }
    val out = Map(
      "kernel.fdot_ns_per_row" -> cost("graft_fdot(v, v)", "size(v)"),
      "kernel.simhash64_ns_per_row" -> cost("length(graft_simhash64(toks))", "size(toks)"),
      "kernel.winnow_min_ns_per_row" -> cost("size(graft_winnow_min(hs, 4))", "size(hs)"),
      "kernel.hexhamming_ns_per_row" -> cost("graft_hexhamming(h1, h2)", "length(h1) + length(h2)"))
    spark.catalog.dropTempView("perfbench_kernels")
    out
  }
}
