package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.clf.LogParser.Pattern

/** The CLF parse as plain column expressions — the reference form that
  * [[graft.functions.ClfParse]] is held equal to (ClfParseSpec) on all 16
  * columns: `rlike` is the match bit, each of the 13 groups is one
  * `regexp_extract` ("" on no match), the numeric groups go through
  * `try_cast`, and the event time is `try_to_timestamp` over the
  * re-joined date groups, so a regex-valid line with an impossible date
  * keeps a null `date` instead of failing the query under ANSI mode.
  *
  * Group 13 is read as `regexp_replace(line, Pattern, "$13")`: the group
  * plus whatever follows the match, which is the one final line
  * terminator that `$` lets through. The parse has always cast that text
  * (`…200 1839\r` → 1839, while a trailing U+0085 or U+2028 survives the
  * cast's trim and nulls `replyBytes`). */
object ClfReference {

  def parse(lines: DataFrame): DataFrame = {
    val staged = lines.select(col("value").as("raw"), col("value").rlike(Pattern).as("m"))
    val matched = col("m")
    // "" on no match, and on a NULL line (`m` null)
    def grp(i: Int): Column =
      when(matched, regexp_extract(col("raw"), Pattern, i)).otherwise(lit(""))
    def intGrp(i: Int): Column = nullif(grp(i), lit("")).try_cast("int")
    val tsStr = concat_ws(" ",
      concat_ws("/", grp(2), grp(3), grp(4)),
      concat_ws(":", grp(5), grp(6), grp(7)),
      grp(8))
    val ts = try_to_timestamp(when(matched, tsStr), lit("dd/MMM/yyyy HH:mm:ss Z"))
    staged.select(
      col("raw"),
      grp(1).as("host"),
      intGrp(2).as("day"),
      grp(3).as("month"),
      intGrp(4).as("year"),
      intGrp(5).as("hour"),
      intGrp(6).as("minute"),
      intGrp(7).as("second"),
      grp(8).as("timezone"),
      ts.as("date"),
      // the reference's seconds-as-millis bug (StreamingJob.scala:125–126)
      timestamp_millis(unix_timestamp(ts)).as("date_ref_buggy"),
      grp(9).as("httpMethod"),
      grp(10).as("ressource"),
      grp(11).as("httpVersion"),
      intGrp(12).as("httpReplyCode"),
      nullif(when(matched, regexp_replace(col("raw"), Pattern, "$13")).otherwise(lit("")), lit(""))
        .try_cast("int").as("replyBytes"))
  }

  def validLines(lines: DataFrame): DataFrame = parse(lines).where(col("host") =!= "")

  def deadLetters(lines: DataFrame): DataFrame =
    lines.where(!col("value").rlike(Pattern)).select(col("value").as("raw"))
}
