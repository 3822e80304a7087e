package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.clf.LogParser

/** Differential spec: the `graft_clf_parse` kernel behind
  * [[LogParser.parse]] equals the column-expression reference form
  * ([[ClfReference]]) on all 16 columns, on the generated and on the
  * interpreted path, over a seeded corpus of near-miss lines built to hit
  * every group boundary of `LogParser.Pattern`. */
class ClfParseSpec extends SparkSpec {

  /** One CLF-shaped line, each part drawn from valid values most of the
    * time and from the edges around them otherwise. */
  private def line(r: Random): Array[Byte] = {
    def pick[T](xs: T*): T = xs(r.nextInt(xs.length))
    def chance(p: Double): Boolean = r.nextDouble() < p
    def digits(n: Int): String = Seq.fill(n)(('0' + r.nextInt(10)).toChar).mkString
    // a two-digit field mostly over its valid range, otherwise over
    // 00–99; sometimes one or three digits
    def two(lo: Int, hi: Int): String =
      if (chance(0.03)) digits(pick(1, 3))
      else if (chance(0.7)) f"${lo + r.nextInt(hi - lo + 1)}%02d"
      else digits(2)
    def word(n: Int): String =
      Seq.fill(n)(pick("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_": _*)).mkString
    def cased(s: String): String =
      s.map(c => if (chance(0.5)) c.toUpper else c.toLower)
    val invalidUtf8 = pick(Array(0xff.toByte), Array(0xc3.toByte), Array(0xe2.toByte, 0x82.toByte),
      Array(0xc0.toByte, 0xaf.toByte), Array(0xed.toByte, 0xa0.toByte, 0x80.toByte))
    def odd(ascii: String): Array[Byte] = pick(
      ascii.getBytes(UTF_8),
      (ascii + "é").getBytes(UTF_8),
      ("ü" + ascii + " x").getBytes(UTF_8),
      ("😀" + ascii).getBytes(UTF_8),
      ascii.getBytes(UTF_8) ++ invalidUtf8,
      invalidUtf8 ++ ascii.getBytes(UTF_8),
      (ascii + "\t1").getBytes(UTF_8),
      (ascii + "\u0001x").getBytes(UTF_8))
    val host: Array[Byte] =
      if (chance(0.85)) f"host${r.nextInt(1000)}%03d.example.com".getBytes(UTF_8)
      else pick(odd("h.example"), Array.emptyByteArray, "a\tb".getBytes(UTF_8),
        "\u2028h".getBytes(UTF_8))
    val ident = if (chance(0.95)) " - - " else pick(" - alice ", "  - - ", " - -  ", " -- ", "\t- - ")
    val day = two(1, 28)
    val month =
      if (chance(0.6)) cased(pick("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
        "Oct", "Nov", "Dec"))
      else if (chance(0.85)) word(1 + r.nextInt(3))
      else pick("", word(4), "Au-", "Sept", "Ma y", "Aü")
    val year =
      if (chance(0.5)) "1995" else if (chance(0.9)) digits(4) else digits(pick(3, 5))
    val time = s"${two(0, 23)}:${two(0, 59)}:${two(0, 59)}"
    val tz =
      if (chance(0.4)) pick("-0400", "-0500", "-0800", "-0000", "-1800", "-1801")
      else if (chance(0.5)) f"-${r.nextInt(19)}%02d${r.nextInt(60)}%02d"
      else if (chance(0.9)) "-" + digits(4)
      else pick("+0400", "-040", "-04000", "0400", "-04:00")
    val method =
      if (chance(0.8)) pick("GET", "HEAD", "POST", "get", "DELETE", "X_1")
      else pick("", "OPTIONS", word(1 + r.nextInt(7)), "GE T", "GÉT")
    val methodSep = if (chance(0.95)) " " else pick("  ", "", "\t")
    val path: Array[Byte] =
      if (chance(0.75)) f"/data/item${r.nextInt(100000)}%05d.html".getBytes(UTF_8)
      else pick(odd("/p"), Array.emptyByteArray, "/a b.html".getBytes(UTF_8),
        "/q\"x".getBytes(UTF_8), "/aHTTP/1.0".getBytes(UTF_8), "/a\r\nb".getBytes(UTF_8),
        "HTTP/1.0".getBytes(UTF_8), "/xHTTP/V1.0".getBytes(UTF_8), "/".getBytes(UTF_8))
    val pre = if (chance(0.7)) " " else pick("", "", "  ", "   ", "\t")
    val version = if (chance(0.8)) pick("HTTP/1.0", "HTTP/V1.0")
      else pick("HTTP/1.1", "HTTP/V1.1", "HTTP/1x0", "HTTP/V 1.0", "http/1.0", "HTTP/VV1.0", "")
    val post = if (chance(0.85)) "" else pick(" ", "  ", "\t")
    val code = if (chance(0.95)) pick("200", "304", "404", "500", digits(3)) else digits(pick(2, 4))
    val codeSep = if (chance(0.97)) " " else pick("  ", "")
    val bytes =
      if (chance(0.15)) pick("-", "--", "-1", "", "- ")
      else digits(pick(1, 1, 2, 3, 4, 5, 6, 7, 8, 9, 9, 10, 11))
    val end = if (chance(0.7)) ""
      else pick("\r", "\n", "\r\n", "\u0085", "\u2028", "\u2029", "\t", " ", "\n\n", "\r\r",
        "\n\r", "x", "\r\n ")
    host ++ s"$ident[$day/$month/$year:$time $tz] \"$method$methodSep".getBytes(UTF_8) ++ path ++
      s"$pre$version$post\" $code$codeSep$bytes$end".getBytes(UTF_8)
  }

  /** A line that is nothing like CLF: random bytes, half printable. */
  private def garbage(r: Random): Array[Byte] = {
    val n = r.nextInt(40)
    Array.fill(n)(if (r.nextBoolean()) (32 + r.nextInt(95)).toByte else r.nextInt(256).toByte)
  }

  /** Every calendar edge on otherwise valid lines: month ends and leap
    * days across century and 400-year rules, the first and last year,
    * and the offset bound. */
  private val calendarEdges: Seq[Array[Byte]] = for {
    year <- Seq("0000", "0001", "1600", "1900", "1995", "1996", "2000", "2100", "9999")
    month <- Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
    day <- Seq("28", "29", "30", "31")
    tz <- Seq("-0000", "-1759", "-1800")
  } yield s"edge.example.com - - [$day/$month/$year:23:59:59 $tz] \"GET /e HTTP/1.0\" 200 1"
    .getBytes(UTF_8)

  /** The FIXTURES.md lines, the calendar edges, then the seeded
    * near-misses. */
  private val corpus: Seq[Array[Byte]] = {
    val r = new Random(20260518L)
    LogParser.FixtureLines.map(_.getBytes(UTF_8)) ++ calendarEdges ++
      Seq.fill(24000)(if (r.nextInt(50) == 0) garbage(r) else line(r))
  }

  /** The corpus as a `value` column, NULL included: the string cast of a
    * BINARY column keeps invalid UTF-8 byte for byte. An RDD source keeps
    * the optimizer from folding the parse into a local relation. */
  private def lines(s: SparkSession): DataFrame = {
    import s.implicits._
    s.sparkContext.parallelize(corpus.map(Option(_)) :+ None, 4).toDF("b")
      .select(col("b").cast("string").as("value"))
  }

  /** Every column as comparable values; strings by their bytes. */
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.select(df.columns.map { c =>
      if (df.schema(c).dataType == org.apache.spark.sql.types.StringType) col(c).cast("binary").as(c)
      else col(c)
    }: _*).collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    })

  private def show(v: Any): String = v match {
    case b: Seq[_] => new String(b.asInstanceOf[Seq[Byte]].toArray, UTF_8)
      .flatMap(c => if (c < ' ' || c > '~') f"\\u${c.toInt}%04x" else c.toString)
    case x => String.valueOf(x)
  }

  private def mismatches(kernel: Seq[Seq[Any]], ref: Seq[Seq[Any]], cols: Seq[String]): Seq[String] = {
    assert(kernel.length === ref.length)
    kernel.zip(ref).filter { case (k, e) => k != e }.map { case (k, e) =>
      val diff = cols.indices.filter(i => k(i) != e(i))
        .map(i => s"${cols(i)}: kernel=${show(k(i))} reference=${show(e(i))}")
      s"${show(k.head)} → ${diff.mkString("; ")}"
    }
  }

  private def interpreted(): SparkSession = {
    // isolated session: suites share one SparkSession and run in
    // parallel, so codegen confs must never mutate the shared state
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s
  }

  test("the generator reaches every group boundary the kernel must reproduce") {
    val ref = ClfReference.parse(lines(spark)).cache()
    try {
      val valid = ref.where(col("host") =!= "")
      def n(df: DataFrame): Long = df.count()
      val nValid = n(valid)
      assert(nValid > 3000 && n(ref) - nValid > 3000, s"valid $nValid of ${n(ref)}")
      // valid lines whose date is impossible, and ones whose date is real
      assert(n(valid.where(col("date").isNull)) > 500)
      assert(n(valid.where(col("date").isNotNull)) > 500)
      // lower-case and upper-case month names that still parse
      assert(n(valid.where(col("date").isNotNull && col("month") =!= initcap(col("month")))) > 50)
      // every day/hour/minute/second value 00–99 on a valid line
      Seq("day", "hour", "minute", "second").foreach { c =>
        assert(valid.select(col(c)).distinct().count() === 100, c)
      }
      // the zero-space version the regex only accepts by backtracking
      assert(n(valid.where(col("raw").contains("HTTP/1.0\"") &&
        !col("raw").contains(" HTTP/1.0") && col("ressource") === "/a")) > 0)
      assert(n(valid.where(col("httpVersion") === "HTTP/V1.0")) > 100)
      // each line terminator `$` lets through, and both byte-count widths
      Seq("\r", "\n", "\r\n", "\u0085", "\u2028", "\u2029").foreach { t =>
        assert(n(valid.where(col("raw").endsWith(t))) > 0, t.map(_.toInt))
      }
      assert(n(valid.where(col("replyBytes") >= 100000000)) > 0)
      assert(n(ref.where(col("raw").rlike(" [0-9]{10}$"))) > 0)
      // non-ASCII and invalid UTF-8 hosts and paths, and tabs, on valid lines
      assert(n(valid.where(col("host").contains("�"))) > 0)
      assert(n(valid.where(col("ressource").contains("�"))) > 0)
      assert(n(valid.where(col("host").contains("é") || col("host").contains("ü"))) > 0)
      assert(n(valid.where(col("ressource").contains("\t"))) > 0)
      assert(n(valid.where(col("ressource").contains("\u0001"))) > 0)
    } finally ref.unpersist()
  }

  test("graft_clf_parse ≡ the column-expression reference on all 16 columns, generated path") {
    val k = LogParser.parse(lines(spark))
    val bad = mismatches(rows(k), rows(ClfReference.parse(lines(spark))), k.columns.toSeq)
    assert(bad.isEmpty, s"${bad.length} mismatches, first: ${bad.take(5).mkString("\n")}")
    assert(k.schema === ClfReference.parse(lines(spark)).schema)
  }

  test("graft_clf_parse ≡ the column-expression reference on all 16 columns, interpreted path") {
    val s = interpreted()
    val k = LogParser.parse(lines(s))
    assert(!k.queryExecution.executedPlan.toString.contains("*("), "whole-stage codegen is off")
    val bad = mismatches(rows(k), rows(ClfReference.parse(lines(s))), k.columns.toSeq)
    assert(bad.isEmpty, s"${bad.length} mismatches, first: ${bad.take(5).mkString("\n")}")
  }

  test("valid lines and dead letters split exactly as the regex does") {
    val valid = LogParser.validLines(lines(spark))
    assert(rows(valid) === rows(ClfReference.validLines(lines(spark))))
    val dead = LogParser.deadLetters(lines(spark))
    assert(rows(dead) === rows(ClfReference.deadLetters(lines(spark))))
    // a NULL line is neither valid nor a dead letter
    assert(valid.count() + dead.count() === corpus.length)
  }
}
