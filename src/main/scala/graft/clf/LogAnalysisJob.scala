package graft.clf

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Det

/** End-to-end replacement for the reference job (reference
  * StreamingJob.scala:71–110): read a CLF text file, parse, and print the
  * three labeled analytics. A user of the reference runs
  * `LogAnalysisJob --path <file> --cores <n>` and gets the same numbers.
  *
  * Differences by design (SURVEY.md §0): windows use correct millisecond
  * timestamps (the reference's seconds-as-millis bug collapses everything
  * into one window); pass `--buggy-windows true` for bit-parity with the
  * reference's accidental whole-file aggregates.
  */
object LogAnalysisJob {

  /** The reference's text-file source (readTextFile ≙ spark.read.text). */
  def readClf(spark: SparkSession, path: String): DataFrame =
    LogParser.validLines(spark.read.text(path))

  /** Streaming variant: readStream.text with event-time watermark. */
  def readClfStream(spark: SparkSession, path: String): DataFrame =
    LogParser.validLines(spark.readStream.text(path))
      .withWatermark("date", "0 seconds")

  /** Typed view — the Dataset[LogLine] ergonomic surface (SURVEY.md §1.3);
    * the parse itself stays columnar so pruning/pushdown still work. */
  def typedLines(spark: SparkSession, path: String): Dataset[LogParser.LogLine] = {
    import spark.implicits._
    readClf(spark, path).drop("date_ref_buggy").as[LogParser.LogLine]
  }

  /** Q1: host with most requests per 31-day window
    * (reference StreamingJob.scala:91–92). */
  def busiestHost(valid: DataFrame, timeCol: String): DataFrame =
    Det.orderWindows(valid
      .groupBy(window(col(timeCol), "31 days").getField("start").as("w_start"), col("host"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("w_start"))
      .agg(max(struct(col("cnt"), col("host"))).as("top"))
      .select(col("w_start"), col("top.host").as("host"), col("top.cnt").as("cnt")))

  /** Q2: unique hosts per window (reference StreamingJob.scala:94–96). */
  def uniqueHosts(valid: DataFrame, timeCol: String): DataFrame =
    Det.orderWindows(valid.groupBy(window(col(timeCol), "31 days").getField("start").as("w_start"))
      .agg(countDistinct(col("host")).as("uniq_hosts")))

  /** Q3: truncating average reply size per window
    * (reference StreamingJob.scala:97–107). */
  def avgReplyBytes(valid: DataFrame, timeCol: String): DataFrame =
    Det.orderWindows(valid.groupBy(window(col(timeCol), "31 days").getField("start").as("w_start"))
      .agg(Det.floorAvg(coalesce(col("replyBytes"), lit(0))).as("avg_bytes")))

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opts.getOrElse("cores", "4")
    val path = opts.getOrElse("path", "NASA_access_log_Aug95")
    val timeCol = if (opts.get("buggy-windows").contains("true")) "date_ref_buggy" else "date"
    val spark = graft.GraftSession.builder(cores.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val valid = readClf(spark, path).cache() // one scan feeds three sinks (SURVEY.md §2.5)
    println("Client with most requests:")
    busiestHost(valid, timeCol).show(100, truncate = false)
    println("Number of unique clients:")
    uniqueHosts(valid, timeCol).show(100, truncate = false)
    println("Average response size in bytes:")
    avgReplyBytes(valid, timeCol).show(100, truncate = false)
    spark.stop()
  }
}
