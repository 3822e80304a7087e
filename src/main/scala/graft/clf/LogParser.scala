package graft.clf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.ClfParse

/** Common Log Format schema + parser — the reference's native input domain.
  *
  * The regex is the reference's (reference StreamingJob.scala:69) with
  * ONE deliberate tightening — the HTTP-version dot is escaped; see the
  * [[Pattern]] comment — and otherwise keeps its deliberate/accidental
  * restrictions (SURVEY.md §2.3): ident/user must be `- -`, timezone only
  * negative offsets, HTTP version only 1.0/V1.0, no spaces in paths,
  * bytes is 1–9 digits or `-` (null).
  *
  * Parsing is ONE codegen'd kernel call per line,
  * [[graft.functions.ClfParse]] (`graft_clf_parse`): a single byte scan
  * that reproduces the pattern's accept set and its 13 groups and
  * computes the event time as arithmetic on the digits — no regex, no
  * string split, no date formatter. It is NOT a Scala UDF: the
  * reference's row-at-a-time `parseLogline` map (StreamingJob.scala:
  * 112–138) would put a Ser/De barrier in the plan, while the kernel
  * stays inside whole-stage codegen. Its reference form — the same
  * fields as `rlike` + one `regexp_extract` per group + `try_cast` +
  * `try_to_timestamp` column expressions — lives with the specs
  * (`ClfReference`), which hold the kernel equal to it on all 16
  * columns.
  *
  * A line the pattern accepts is valid even when its date is impossible
  * (`31/Feb`, month `Foo`, hour `25`): it keeps its fields with `date`
  * and `date_ref_buggy` null, and event-time windows skip it. The regex
  * alone decides valid vs dead letter.
  */
object LogParser {

  /** reference StreamingJob.scala:69, with one deliberate tightening:
    * the reference writes `HTTP/V?1.0` (unescaped dot, matching any
    * char); here the dot is escaped (`1\.0`). Same accept set on all
    * real CLF traffic — fixture-covered in ClfParserSpec — and strictly
    * narrower on adversarial input (e.g. `HTTP/1x0`). */
  val Pattern: String =
    "^(\\S+) - - \\[(\\d\\d)/(\\w{1,3})/(\\d{4}):(\\d{2}):(\\d{2}):(\\d{2}) (-\\d{4})\\] \"(\\w{1,6}) ([^ \"]+) *(HTTP/V?1\\.0) *\" (\\d{3}) (\\d{1,9}|-)$"

  /** Typed row — mirrors the reference's LogLine
    * (StreamingJob.scala:37–53) with intended-semantics timestamp. */
  case class LogLine(
      raw: String, host: String, day: Int, month: String, year: Int,
      hour: Int, minute: Int, second: Int, timezone: String,
      date: java.sql.Timestamp, httpMethod: String, ressource: String,
      httpVersion: String, httpReplyCode: Int, replyBytes: Option[Int])

  /** The pattern's match bit for a `value` column: true on a valid line,
    * false on a dead letter, null on a NULL line (as `rlike`). */
  def matched(value: Column): Column = clfParse(value).getField("m")

  private def clfParse(value: Column): Column =
    ColumnBridge.of(ClfParse(ColumnBridge.expr(value)))

  /** The 16 LogLine columns: `raw`, then the kernel's fields after `m`. */
  private val Fields: Seq[String] = "raw" +: ClfParse.Schema.fieldNames.toSeq.tail

  /** `passthrough` columns, `raw`, and every field of the kernel's struct
    * (the match bit `m` first), from ONE kernel call per row. The struct
    * is spread by a generator over its one-element array, not by a
    * projection: a filter on a field (`m` below, or a caller's
    * `host = …`) is never pushed beneath a Generate, whereas through a
    * projection the optimizer would inline the kernel into the filter
    * and run it a second time per row. */
  private def kernel(lines: DataFrame, passthrough: Seq[String]): DataFrame =
    lines.select(passthrough.map(col) ++ Seq(
      col("value").as("raw"), inline(array(clfParse(col("value"))))): _*)

  private def fields(staged: DataFrame, passthrough: Seq[String]): DataFrame =
    staged.select((passthrough ++ Fields).map(col): _*)

  /** value:string → the 16-column LogLine schema. Unparseable lines keep
    * `raw` and get ""/null fields (reference StreamingJob.scala:135:
    * LogLine(raw = line)). */
  def parse(lines: DataFrame): DataFrame = fields(kernel(lines, Nil), Nil)

  /** Valid rows (reference parseLoglines, StreamingJob.scala:141–143);
    * `passthrough` columns of `lines` ride ahead of the parsed ones. */
  def validLines(lines: DataFrame, passthrough: Seq[String] = Nil): DataFrame =
    fields(kernel(lines, passthrough).where(col("m")), passthrough)

  /** Dead-letter stream of unparseable raw lines (reference
    * checkInvalidLoglineParsing, StreamingJob.scala:145–147). */
  def deadLetters(lines: DataFrame): DataFrame =
    lines.where(!matched(col("value"))).select(col("value").as("raw"))

  /** Single-pass alternative to the valid/dead-letter double scan: the
    * valid rows flow through while an `observe` metric counts total and
    * invalid lines on the same pass (SURVEY.md §2.1 row 5). Read the
    * metric from the listener or `Observation` after an action. */
  def validLinesObserved(lines: DataFrame): DataFrame = {
    graft.operators.Diagnostics.install(lines.sparkSession)
    fields(kernel(lines, Nil)
      .observe("clf_parse",
        count(lit(1)).as("n_lines"),
        sum(when(col("host") === "", 1L).otherwise(0L)).as("n_dead_letters"))
      .where(col("m")), Nil)
  }

  /** q37: the fixture corpus through [[validLines]], projected to the
    * hash-portable column set (timestamps as BIGINTs: `ts_sec` is the
    * intended-semantics epoch seconds; `ts_ref_millis` is the millis
    * count of the reference-parity `date_ref_buggy` — numerically EQUAL
    * to `ts_sec`, which is precisely the seconds-as-millis bug, so the
    * DuckDB twin states it as `ts_sec AS ts_ref_millis` and the hash
    * gate pins the parity). Ordered by `raw` — the fixture lines are
    * pairwise distinct. */
  def fixtureValid(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    validLines(FixtureLines.toDF("value"))
      .select(col("raw"), col("host"), col("day"), col("month"), col("year"),
        col("hour"), col("minute"), col("second"), col("timezone"),
        col("date").cast("long").as("ts_sec"),
        unix_millis(col("date_ref_buggy")).as("ts_ref_millis"),
        col("httpMethod"), col("ressource"), col("httpVersion"),
        col("httpReplyCode"), col("replyBytes"))
      .orderBy("raw")
  }

  /** q38: the fixture dead-letter stream, ordered by `raw`. */
  def fixtureDead(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    deadLetters(FixtureLines.toDF("value")).orderBy("raw")
  }

  /** The FIXTURES.md §A corpus, embedded so the CLF path is exercisable
    * without external files (the NASA log itself is not shipped). */
  val FixtureLines: Seq[String] = Seq(
    "host01.example.com - - [01/Aug/1995:00:00:01 -0400] \"GET /index.html HTTP/1.0\" 200 1839",
    "192.168.7.42 - - [01/Aug/1995:00:00:07 -0400] \"GET /images/logo.gif HTTP/1.0\" 304 0",
    "host02.example.net - - [01/Aug/1995:00:00:09 -0400] \"HEAD /missions/sts-70/ HTTP/1.0\" 404 -",
    "proxy.example.org - - [19/Aug/1995:23:59:59 -0400] \"POST /cgi-bin/form HTTP/V1.0\" 500 999999999",
    "host01.example.com - - [20/Aug/1995:00:00:00 -0400] \"GET /a.txt HTTP/1.0\" 200 77",
    "host03.example.com - - [01/Aug/1995:00:01:02 -0400] \"GET /new HTTP/1.1\" 200 512",
    "host04.example.com - alice [01/Aug/1995:00:01:03 -0400] \"GET /x HTTP/1.0\" 200 512",
    "host05.example.com - - [01/Aug/1995:00:01:04 +0200] \"GET /x HTTP/1.0\" 200 512",
    "host06.example.com - - [01/Aug/1995:00:01:05 -0400] \"GET /a b.html HTTP/1.0\" 200 512",
    "not a log line at all")
}
