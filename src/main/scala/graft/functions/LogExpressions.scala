package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** clf_parse(line): the Common Log Format parse of [[graft.clf.LogParser]]
  * as ONE byte scan per line, returning every typed field at once:
  *
  * {{{
  *   struct(m: boolean, host: string, day: int, month: string, year: int,
  *          hour: int, minute: int, second: int, timezone: string,
  *          date: timestamp, date_ref_buggy: timestamp, httpMethod: string,
  *          ressource: string, httpVersion: string, httpReplyCode: int,
  *          replyBytes: int)
  * }}}
  *
  * `m` is the match bit of `LogParser.Pattern` and the other fields are
  * exactly what the column-expression reference form derives from the
  * pattern's 13 groups (`rlike` + `regexp_extract` per group + `try_cast`
  * + `try_to_timestamp`), with no regex, no string split and no date
  * formatter:
  *
  *  - The accept set is the regex's, java.util.regex semantics included:
  *    `\S`, `\w` and `\d` are the ASCII classes (every byte ≥ 0x80 is a
  *    non-space, non-word char, whatever it decodes to); the path group
  *    `[^ "]+` backtracks, so `"GET /aHTTP/1.0"` matches with path `/a`;
  *    and `$` also matches before ONE final line terminator (`\n`, `\r`,
  *    `\r\n`, U+0085, U+2028, U+2029), which the reference leaves glued to
  *    group 13: `replyBytes` is the `try_cast` of digits + terminator, so
  *    the ASCII terminators (trimmed by the cast) keep the number and the
  *    Unicode ones null it.
  *  - `date` is the `dd/MMM/yyyy HH:mm:ss Z` instant computed as arithmetic
  *    on the digits under `try_to_timestamp`'s validity rules: month names
  *    case-insensitive (`aug` parses, the `month` field keeps the source
  *    text), proleptic-Gregorian month lengths, hour ≤ 23, minute and
  *    second ≤ 59, offset minutes ≤ 59 and |offset| ≤ 18:00. A line the
  *    pattern accepts but whose date is impossible stays a valid line with
  *    `date` and `date_ref_buggy` null. `date_ref_buggy` is the reference's
  *    seconds-as-millis value (epoch seconds read as milliseconds).
  *  - A rejected line yields `m = false`, "" for the string groups and
  *    null for the rest (the `regexp_extract` "" contract); a NULL line
  *    yields the same with `m` null, so it is neither a valid line nor a
  *    dead letter, like `rlike` on NULL.
  *  - Host and path bytes that are not ASCII go through
  *    `java.lang.String` and back, as the regex reference does (invalid
  *    UTF-8 comes out as U+FFFD).
  *
  * The struct is never null. Codegen'd as a static call into
  * [[ClfParse.parse]] (the [[LongestRun]] pattern). */
case class ClfParse(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ClfParse.Schema

  override def nullable: Boolean = false

  override def prettyName: String = "graft_clf_parse"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_clf_parse expects string, got ${child.dataType}")

  override def eval(input: InternalRow): Any =
    ClfParse.parse(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.functions.ClfParse.parse(${c.isNull} ? null : ${c.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ClfParse {

  /** The kernel's struct: the match bit, then the 15 parsed columns of
    * `LogParser.LogLine` in their output order. Every field is nullable,
    * as in the reference form's schema. */
  val Schema: StructType = StructType(Seq(
    "m" -> BooleanType, "host" -> StringType, "day" -> IntegerType, "month" -> StringType,
    "year" -> IntegerType, "hour" -> IntegerType, "minute" -> IntegerType,
    "second" -> IntegerType, "timezone" -> StringType, "date" -> TimestampType,
    "date_ref_buggy" -> TimestampType, "httpMethod" -> StringType, "ressource" -> StringType,
    "httpVersion" -> StringType, "httpReplyCode" -> IntegerType, "replyBytes" -> IntegerType)
    .map { case (n, t) => StructField(n, t) })

  private val Empty = UTF8String.EMPTY_UTF8

  private def rejected(m: Any): InternalRow = new GenericInternalRow(Array[Any](
    m, Empty, null, Empty, null, null, null, null, Empty, null, null, Empty, Empty, Empty, null, null))

  private val NoMatch = rejected(false)
  private val NullLine = rejected(null)

  /** `MMM` in `Locale.US`, as three lower-cased ASCII bytes packed into
    * an Int; index + 1 is the month number. */
  private val MonthKeys: Array[Int] =
    Array("jan", "feb", "mar", "apr", "may", "jun", "jul", "aug", "sep", "oct", "nov", "dec")
      .map(m => (m(0) << 16) | (m(1) << 8) | m(2))

  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  private def isWord(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || isDigit(b) || b == '_'

  /** java.util.regex `\s`: `[ \t\n\x0B\f\r]`. */
  private def isSpace(b: Byte): Boolean = b == ' ' || (b >= 0x09 && b <= 0x0d)

  private def digits(b: Array[Byte], from: Int, len: Int): Int = {
    var v = 0
    var i = from
    while (i < from + len) { v = v * 10 + (b(i) - '0'); i += 1 }
    v
  }

  private def allDigits(b: Array[Byte], from: Int, len: Int): Boolean = {
    var i = from
    while (i < from + len && isDigit(b(i))) i += 1
    i == from + len
  }

  /** End of `HTTP/V?1\.0` starting at `i`, or -1. */
  private def versionEnd(b: Array[Byte], i: Int): Int = {
    val n = b.length
    if (i + 8 > n || b(i) != 'H' || b(i + 1) != 'T' || b(i + 2) != 'T' || b(i + 3) != 'P'
        || b(i + 4) != '/') return -1
    val j = if (b(i + 5) == 'V') i + 6 else i + 5
    if (j + 3 <= n && b(j) == '1' && b(j + 1) == '.' && b(j + 2) == '0') j + 3 else -1
  }

  /** Non-multiline `$` at byte `i`: end of input, or one final line
    * terminator. 0 = no match; 1 = at the end or before an ASCII
    * terminator; 2 = before a Unicode terminator. */
  private def dollar(b: Array[Byte], i: Int): Int = b.length - i match {
    case 0 => 1
    case 1 => if (b(i) == '\n' || b(i) == '\r') 1 else 0
    case 2 =>
      if (b(i) == '\r' && b(i + 1) == '\n') 1
      else if (b(i) == 0xc2.toByte && b(i + 1) == 0x85.toByte) 2
      else 0
    case 3 =>
      if (b(i) == 0xe2.toByte && b(i + 1) == 0x80.toByte
          && (b(i + 2) == 0xa8.toByte || b(i + 2) == 0xa9.toByte)) 2
      else 0
    case _ => 0
  }

  /** `*" (\d{3}) (\d{1,9}|-)$` from `i`: the reply code's start, or -1.
    * The bytes group starts 4 bytes after it. */
  private def tail(b: Array[Byte], i: Int): Int = {
    val n = b.length
    var j = i
    while (j < n && b(j) == ' ') j += 1
    if (j + 7 > n || b(j) != '"' || b(j + 1) != ' ' || !allDigits(b, j + 2, 3)
        || b(j + 5) != ' ') return -1
    val bs = j + 6
    val be =
      if (b(bs) == '-') bs + 1
      else {
        var k = bs
        while (k < n && isDigit(b(k))) k += 1
        if (k == bs || k - bs > 9) return -1
        k
      }
    if (dollar(b, be) == 0) -1 else j + 2
  }

  private def str(b: Array[Byte], from: Int, until: Int): UTF8String = {
    var i = from
    while (i < until && b(i) >= 0) i += 1
    if (i == until) UTF8String.fromBytes(b, from, until - from)
    else UTF8String.fromString(new String(b, from, until - from, UTF_8))
  }

  private def isLeap(y: Int): Boolean = (y & 3) == 0 && (y % 100 != 0 || y % 400 == 0)

  private def monthLength(y: Int, m: Int): Int = m match {
    case 2 => if (isLeap(y)) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** Days from 1970-01-01 to the proleptic-Gregorian date y-m-d. */
  private def epochDay(y: Int, m: Int, d: Int): Long = {
    val yy = if (m <= 2) y - 1L else y.toLong
    val era = Math.floorDiv(yy, 400L)
    val yoe = yy - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097 + doe - 719468
  }

  /** Static kernel, shared by interpreted eval and generated code. */
  def parse(line: UTF8String): InternalRow = {
    if (line == null) return NullLine
    // a private copy: the string fields below are views into it
    val n = line.numBytes
    val b = new Array[Byte](n)
    line.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET)
    // (\S+) - - \[
    var i = 0
    while (i < n && !isSpace(b(i))) i += 1
    val hostEnd = i
    if (hostEnd == 0 || i + 6 > n || b(i) != ' ' || b(i + 1) != '-' || b(i + 2) != ' '
        || b(i + 3) != '-' || b(i + 4) != ' ' || b(i + 5) != '[') return NoMatch
    // (\d\d)/(\w{1,3})/
    val dayAt = i + 6
    if (dayAt + 3 > n || !allDigits(b, dayAt, 2) || b(dayAt + 2) != '/') return NoMatch
    val monAt = dayAt + 3
    i = monAt
    while (i < n && i - monAt < 3 && isWord(b(i))) i += 1
    val monEnd = i
    if (monEnd == monAt || i >= n || b(i) != '/') return NoMatch
    // (\d{4}):(\d{2}):(\d{2}):(\d{2}) (-\d{4})\] "
    val yearAt = monEnd + 1
    if (yearAt + 22 > n || !allDigits(b, yearAt, 4) || b(yearAt + 4) != ':'
        || !allDigits(b, yearAt + 5, 2) || b(yearAt + 7) != ':'
        || !allDigits(b, yearAt + 8, 2) || b(yearAt + 10) != ':'
        || !allDigits(b, yearAt + 11, 2) || b(yearAt + 13) != ' '
        || b(yearAt + 14) != '-' || !allDigits(b, yearAt + 15, 4)
        || b(yearAt + 19) != ']' || b(yearAt + 20) != ' ' || b(yearAt + 21) != '"') return NoMatch
    // (\w{1,6})
    val methodAt = yearAt + 22
    i = methodAt
    while (i < n && i - methodAt < 6 && isWord(b(i))) i += 1
    val methodEnd = i
    if (methodEnd == methodAt || i >= n || b(i) != ' ') return NoMatch
    // ([^ "]+) *(HTTP/V?1\.0) *" — greedy path: the longest run first,
    // then the backtracked split where the run itself ends in the version
    val pathAt = methodEnd + 1
    i = pathAt
    while (i < n && b(i) != ' ' && b(i) != '"') i += 1
    val runEnd = i
    if (runEnd == pathAt) return NoMatch
    while (i < n && b(i) == ' ') i += 1
    var pathEnd = runEnd
    var verAt = i
    var verEnd = versionEnd(b, verAt)
    var codeAt = if (verEnd < 0) -1 else tail(b, verEnd)
    if (codeAt < 0) {
      val glued =
        if (runEnd - pathAt > 8 && versionEnd(b, runEnd - 8) == runEnd) runEnd - 8
        else if (runEnd - pathAt > 9 && versionEnd(b, runEnd - 9) == runEnd) runEnd - 9
        else -1
      if (glued < 0) return NoMatch
      codeAt = tail(b, runEnd)
      if (codeAt < 0) return NoMatch
      pathEnd = glued
      verAt = glued
      verEnd = runEnd
    }

    val day = digits(b, dayAt, 2)
    val year = digits(b, yearAt, 4)
    val hour = digits(b, yearAt + 5, 2)
    val minute = digits(b, yearAt + 8, 2)
    val second = digits(b, yearAt + 11, 2)
    val offHours = digits(b, yearAt + 15, 2)
    val offMinutes = digits(b, yearAt + 17, 2)
    val month =
      if (monEnd - monAt != 3) 0
      else {
        val key = ((b(monAt) | 0x20) << 16) | ((b(monAt + 1) | 0x20) << 8) | (b(monAt + 2) | 0x20)
        MonthKeys.indexOf(key) + 1
      }
    val valid = month > 0 && day >= 1 && day <= monthLength(year, month) && hour <= 23 &&
      minute <= 59 && second <= 59 && offMinutes <= 59 && offHours * 60 + offMinutes <= 18 * 60
    // local time minus a negative offset
    val epochSec =
      if (!valid) 0L
      else epochDay(year, month, day) * 86400L + hour * 3600L + minute * 60L + second +
        offHours * 3600L + offMinutes * 60L
    val bytesAt = codeAt + 4
    val replyBytes =
      if (b(bytesAt) == '-') null
      else {
        var k = bytesAt
        while (k < n && isDigit(b(k))) k += 1
        if (dollar(b, k) == 1) digits(b, bytesAt, k - bytesAt) else null
      }
    new GenericInternalRow(Array[Any](
      true,
      str(b, 0, hostEnd),
      day,
      UTF8String.fromBytes(b, monAt, monEnd - monAt),
      year, hour, minute, second,
      UTF8String.fromBytes(b, yearAt + 14, 5),
      if (valid) epochSec * 1000000L else null,
      if (valid) epochSec * 1000L else null,
      UTF8String.fromBytes(b, methodAt, methodEnd - methodAt),
      str(b, pathAt, pathEnd),
      UTF8String.fromBytes(b, verAt, verEnd - verAt),
      digits(b, codeAt, 3),
      replyBytes))
  }
}
