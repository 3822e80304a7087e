package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.clf.{LogAnalysisJob, LogParser}

class ClfParserSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = LogParser.FixtureLines.toDF("value")

  test("valid/invalid split matches FIXTURES.md corpus (5 valid, 5 dead-lettered)") {
    assert(LogParser.validLines(fixture).count() === 5)
    assert(LogParser.deadLetters(fixture).count() === 5)
  }

  test("golden record: first corpus line parses to the FIXTURES.md §A.3 values") {
    val r = LogParser.validLines(fixture)
      .where(col("host") === "host01.example.com" && col("day") === 1).head()
    assert(r.getAs[String]("host") === "host01.example.com")
    assert(r.getAs[Int]("day") === 1)
    assert(r.getAs[String]("month") === "Aug")
    assert(r.getAs[Int]("year") === 1995)
    assert(r.getAs[Int]("hour") === 0)
    assert(r.getAs[Int]("minute") === 0)
    assert(r.getAs[Int]("second") === 1)
    assert(r.getAs[String]("timezone") === "-0400")
    // 1995-08-01T00:00:01-0400 = 1995-08-01T04:00:01Z (intended semantics)
    assert(r.getAs[Timestamp]("date").toInstant.toString === "1995-08-01T04:00:01Z")
    assert(r.getAs[String]("httpMethod") === "GET")
    assert(r.getAs[String]("ressource") === "/index.html")
    assert(r.getAs[String]("httpVersion") === "HTTP/1.0")
    assert(r.getAs[Int]("httpReplyCode") === 200)
    assert(r.getAs[Int]("replyBytes") === 1839)
  }

  test("CLF '-' bytes become null (reference Try(...).toOption semantics)") {
    val r = LogParser.validLines(fixture).where(col("host") === "host02.example.net").head()
    assert(r.isNullAt(r.fieldIndex("replyBytes")))
  }

  test("seconds-as-millis buggy date reproduces the reference timestamp bug 1000x compression") {
    val r = LogParser.validLines(fixture).where(col("host") === "host01.example.com" && col("day") === 1).head()
    val good = r.getAs[Timestamp]("date").getTime
    val buggy = r.getAs[Timestamp]("date_ref_buggy").getTime
    assert(buggy === good / 1000) // millis field holds the epoch-second count
  }

  test("dead letters include HTTP/1.1, non-dash user, positive tz, spaced path, garbage") {
    val dead = LogParser.deadLetters(fixture).as[String].collect().toSet
    assert(dead.exists(_.contains("HTTP/1.1")))
    assert(dead.exists(_.contains("alice")))
    assert(dead.exists(_.contains("+0200")))
    assert(dead.exists(_.contains("/a b.html")))
    assert(dead.contains("not a log line at all"))
  }

  test("q37/q38 fixture oracle preconditions: no single quotes, distinct lines, millis==seconds parity") {
    // LogCorpus embeds the fixture as a SQL VALUES list in single quotes
    // and keys the hash gate's ORDER BY on `raw` — both only sound if
    // the lines carry no quote characters and are pairwise distinct
    assert(LogParser.FixtureLines.forall(!_.contains("'")),
      "fixture lines must stay single-quote-free for the VALUES embedding")
    assert(LogParser.FixtureLines.distinct.length === LogParser.FixtureLines.length,
      "fixture lines must stay pairwise distinct for the raw sort key")
    val v = LogParser.fixtureValid(spark).collect()
    assert(v.length === 5)
    // the reference's seconds-as-millis bug, as the oracle states it:
    // the buggy timestamp's millis count EQUALS the epoch-second count
    v.foreach(r => assert(r.getAs[Long]("ts_ref_millis") === r.getAs[Long]("ts_sec")))
    assert(LogParser.fixtureDead(spark).as[String].collect().length === 5)
  }

  test("observe() metric counts dead letters in the same pass as valid rows") {
    val observed = LogParser.validLinesObserved(fixture)
    // collect() (not count()) so the metric lands on THIS DataFrame's own
    // QueryExecution rather than a derived aggregate plan
    assert(observed.collect().length === 5)
    val metrics = observed.queryExecution.observedMetrics("clf_parse")
    assert(metrics.getAs[Long]("n_lines") === 10L)
    assert(metrics.getAs[Long]("n_dead_letters") === 5L)
    // the same counters reach the session-level Diagnostics capture
    // (async listener bus — poll)
    val deadline = System.nanoTime() + 15e9.toLong
    def cap = graft.operators.Diagnostics.lastMetrics("clf_parse")
    while (!cap.exists(_.get("n_dead_letters").contains(5L))
        && System.nanoTime() < deadline) Thread.sleep(25)
    assert(cap.exists(_.apply("n_lines") === 10L),
      "Diagnostics must serve the dead-letter counters after the action")
  }

  test("avg-bytes analytics semantics on CLF: '-' bytes count 0 in numerator, 1 in denominator") {
    val valid = LogParser.validLines(fixture)
    val avg = valid.agg(
      functions.floorAvgLong(coalesce(col("replyBytes"), lit(0)))).head().getLong(0)
    // bytes: 1839, 0, null->0, 999999999, 77 → sum=1000001915, n=5 → floor = 200000383
    assert(avg === 200000383L)
  }

  test("a regex-valid line with an impossible date stays valid with a null date; the analytics skip it") {
    // ANSI to_timestamp used to fail the whole job on any of these
    val impossible = Seq(
      "bad1.example.com - - [31/Feb/1995:00:00:01 -0400] \"GET /x HTTP/1.0\" 200 10",
      "bad2.example.com - - [01/Foo/1995:00:00:01 -0400] \"GET /x HTTP/1.0\" 200 20",
      "bad3.example.com - - [01/Aug/1995:25:00:01 -0400] \"GET /x HTTP/1.0\" 200 30",
      "bad4.example.com - - [01/Aug/1995:00:00:01 -1900] \"GET /x HTTP/1.0\" 200 40")
    val lines = (LogParser.FixtureLines ++ impossible).toDF("value")
    val valid = LogParser.validLines(lines)
    assert(valid.count() === 5 + impossible.length)
    assert(LogParser.deadLetters(lines).count() === 5)
    val bad = valid.where(col("host").startsWith("bad")).orderBy("host").collect()
    assert(bad.map(_.getAs[Int]("day")).toSeq === Seq(31, 1, 1, 1))
    assert(bad.map(_.getAs[String]("month")).toSeq === Seq("Feb", "Foo", "Aug", "Aug"))
    assert(bad.map(_.getAs[Int]("hour")).toSeq === Seq(0, 0, 25, 0))
    assert(bad.forall(r => r.isNullAt(r.fieldIndex("date")) && r.isNullAt(r.fieldIndex("date_ref_buggy"))))
    // window() drops a null event time: all three analytics answer as if
    // the lines were absent
    val clean = LogParser.validLines(fixture)
    Seq(LogAnalysisJob.busiestHost _, LogAnalysisJob.uniqueHosts _, LogAnalysisJob.avgReplyBytes _)
      .foreach { q =>
        assert(q(valid, "date").collect().toSeq === q(clean, "date").collect().toSeq)
        assert(q(valid, "date_ref_buggy").collect().toSeq === q(clean, "date_ref_buggy").collect().toSeq)
      }
  }

  private object functions {
    def floorAvgLong(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor(sum(c.cast("decimal(18,2)")).cast("double") / count(lit(1))).cast("long")
  }
}
