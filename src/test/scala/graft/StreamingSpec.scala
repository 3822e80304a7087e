package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingAnalytics

/** Stream/batch parity: the property the reference implicitly relies on
  * (its "streaming" job reads a finite file). Each streaming formulation,
  * fed the same rows via MemoryStream, must converge to the batch answer. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Option[Double])

  private def evs = Seq(
    Ev(0, Timestamp.valueOf("2024-01-10 00:00:00"), 1, "view", Some(10.0)),
    Ev(1, Timestamp.valueOf("2024-01-10 00:10:00"), 1, "view", Some(20.0)),
    Ev(2, Timestamp.valueOf("2024-01-23 23:59:59"), 2, "click", None),
    Ev(3, Timestamp.valueOf("2024-01-24 00:00:00"), 2, "click", Some(7.0)),
    Ev(4, Timestamp.valueOf("2024-01-25 00:00:00"), 3, "view", Some(8.0)),
    Ev(5, Timestamp.valueOf("2024-01-25 00:00:01"), 3, "view", Some(9.0)))

  private def runToCompletion(df: org.apache.spark.sql.DataFrame, mode: String, name: String): Array[org.apache.spark.sql.Row] = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name).collect()
  }

  test("update-mode running count per user converges to batch groupBy count") {
    val input = MemoryStream[Ev](spark)
    input.addData(evs.take(3)); input.addData(evs.drop(3))
    val rows = runToCompletion(
      StreamingAnalytics.runningCountPerUser(input.toDF()), "update", "running_counts")
    // memory sink in update mode appends every update; the LAST update per
    // user is the converged count (per-record emission parity with the
    // reference's rolling sum)
    val last = rows.zipWithIndex.groupBy(_._1.getLong(0)).map { case (u, rs) => u -> rs.maxBy(_._2)._1.getLong(1) }
    assert(last === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("windowed user counts equal the batch window counts") {
    val input = MemoryStream[Ev](spark)
    input.addData(evs)
    val rows = runToCompletion(
      StreamingAnalytics.windowedUserCounts(input.toDF()), "update", "win_counts")
    val got = rows.map(r => (r.getAs[Timestamp]("w_start").toInstant.toString, r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(
      ("2023-12-25T00:00:00Z", 1L, 2L), ("2023-12-25T00:00:00Z", 2L, 2L),
      ("2024-01-25T00:00:00Z", 3L, 2L)))
  }

  test("streaming dedup + windowed count gives unique users per window") {
    val input = MemoryStream[Ev](spark)
    input.addData(evs)
    val rows = runToCompletion(
      StreamingAnalytics.uniqueUsersPerWindow(input.toDF()), "update", "uniq_users")
    // dedup keeps the first arrival per user: users 1,2 in w1; 3 in w2
    val got = rows.map(r => (r.getAs[Timestamp]("w_start").toInstant.toString, r.getLong(1))).toSet
    assert(got === Set(("2023-12-25T00:00:00Z", 2L), ("2024-01-25T00:00:00Z", 1L)))
  }

  test("streaming floor-avg per window equals the batch analytics") {
    val input = MemoryStream[Ev](spark)
    input.addData(evs)
    val rows = runToCompletion(
      StreamingAnalytics.avgValuePerWindow(input.toDF()), "update", "avg_win")
    val got = rows.map(r => (r.getAs[Timestamp]("w_start").toInstant.toString, r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(("2023-12-25T00:00:00Z", 9L, 4L), ("2024-01-25T00:00:00Z", 8L, 2L)))
  }

  test("CLF lines with an impossible date are skipped by the three streaming analytics") {
    // regex-valid lines whose date cannot exist parse with a null event
    // time; window() drops such a row, so every analytic answers as on the
    // clean lines alone
    val impossible = Seq(
      "bad1.example.com - - [31/Feb/1995:00:00:01 -0400] \"GET /x HTTP/1.0\" 200 10",
      "bad2.example.com - - [01/Foo/1995:00:00:01 -0400] \"GET /x HTTP/1.0\" 200 20",
      "bad3.example.com - - [01/Aug/1995:25:00:01 -0400] \"GET /x HTTP/1.0\" 200 30")
    val clean = graft.clf.LogParser.FixtureLines
    // two micro-batches of the same clean lines, with and without the
    // impossible dates mixed into each
    val cleanBatches = Seq(clean.take(5), clean.drop(5))
    val mixedBatches = Seq(clean.take(2) ++ impossible.take(2) ++ clean.slice(2, 5),
      impossible.drop(2) ++ clean.drop(5))
    def run(batches: Seq[Seq[String]], name: String,
        q: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Set[Seq[Any]] = {
      val input = MemoryStream[String](spark)
      batches.foreach(input.addData(_))
      val events = graft.clf.LogParser.validLines(input.toDF())
        .select(col("date").as("ts"), col("host").as("user_id"), col("replyBytes").as("value"))
      runToCompletion(q(events), "update", name).map(_.toSeq).toSet
    }
    Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "clf_win_counts" -> (StreamingAnalytics.windowedUserCounts(_)),
      "clf_uniq_users" -> StreamingAnalytics.uniqueUsersPerWindow,
      "clf_avg_value" -> StreamingAnalytics.avgValuePerWindow).foreach { case (name, q) =>
      val want = run(cleanBatches, s"${name}_clean", q)
      assert(want.nonEmpty, name)
      assert(run(mixedBatches, s"${name}_mixed", q) === want, name)
    }
  }

  test("streaming first-event-per-user emits one row per user") {
    val input = MemoryStream[Ev](spark)
    input.addData(evs)
    val rows = runToCompletion(
      StreamingAnalytics.firstEventPerUser(input.toDF()), "append", "first_ev")
    assert(rows.map(_.getAs[Long]("user_id")).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("flatMapGroupsWithState custom-state dedup matches dropDuplicates semantics") {
    val input = MemoryStream[Ev](spark)
    input.addData(evs.take(3)); input.addData(evs.drop(3))
    val q = StreamingAnalytics.firstEventPerUserCustomState(input.toDF())
      .writeStream.format("memory").queryName("custom_state").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("custom_state").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"))).toSet
    // first event per user in arrival order: user1→0, user2→2, user3→4
    assert(got === Set((1L, 0L), (2L, 2L), (3L, 4L)))
  }

  test("stream/batch parity: foreachBatch-upserted windowed argmax equals batch q1") {
    // the property the reference relies on implicitly (SURVEY §5.2.4):
    // stream the REAL sf0.001 events through windowedUserCounts in update
    // mode, upsert each micro-batch into a KV map (the foreachBatch sink a
    // deployment would use), then argmax per window — must equal batch q1
    // exactly, including the (cnt, user_id) tie-break.
    val batch = graft.operators.EventAnalytics.busiestUserPerWindow(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)

    val rows = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .collect().map(r => Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    val input = MemoryStream[Ev](spark)
    val upserts = scala.collection.concurrent.TrieMap.empty[(Long, Long), Long]
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, _) =>
      b.collect().foreach { r =>
        upserts((r.getAs[Timestamp]("w_start").toInstant.getEpochSecond, r.getLong(1))) = r.getLong(2)
      }
    val q = StreamingAnalytics.windowedUserCounts(input.toDF())
      .writeStream.outputMode("update").foreachBatch(sink).start()
    rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
      input.addData(chunk); q.processAllAvailable()
    }
    q.stop()

    val streamed = upserts.toSeq.groupBy(_._1._1).map { case (w, kvs) =>
      val ((_, user), cnt) = kvs.maxBy { case ((_, u), c) => (c, u) }
      (w, user, cnt)
    }.toSeq.sortBy(_._1)
    assert(streamed === batch)
  }

  test("stream-stream interval join matches the batch join on the same rows") {
    val views = Seq(
      Ev(10, Timestamp.valueOf("2024-02-01 12:00:00"), 1, "view", None),
      Ev(11, Timestamp.valueOf("2024-02-01 12:30:00"), 1, "view", None),
      Ev(12, Timestamp.valueOf("2024-02-01 12:00:00"), 2, "view", None))
    val clicks = Seq(
      Ev(20, Timestamp.valueOf("2024-02-01 12:05:00"), 1, "click", None), // joins view 10
      Ev(21, Timestamp.valueOf("2024-02-01 12:31:00"), 1, "click", None), // joins view 11
      Ev(22, Timestamp.valueOf("2024-02-01 12:20:00"), 2, "click", None), // outside 10 min
      Ev(23, Timestamp.valueOf("2024-02-01 11:59:00"), 1, "click", None)) // before any view
    val vIn = MemoryStream[Ev](spark)
    val cIn = MemoryStream[Ev](spark)
    val q = StreamingAnalytics.viewClickJoin(vIn.toDF(), cIn.toDF())
      .writeStream.format("memory").queryName("vc_join").outputMode("append").start()
    vIn.addData(views); cIn.addData(clicks); q.processAllAvailable()
    // advance both watermarks past every row so all joinable pairs flush
    // (distinct users so the sentinels can't join each other)
    vIn.addData(Ev(98, Timestamp.valueOf("2024-02-02 00:00:00"), 98, "x", None))
    cIn.addData(Ev(99, Timestamp.valueOf("2024-02-02 00:00:00"), 99, "x", None))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("vc_join").collect()
      .map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("click_id"))).toSet
    assert(got === Set((10L, 20L), (11L, 21L)))
  }

  test("checkpointed file sink restarts exactly-once: no loss, no duplicates") {
    val base = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val (ckpt, out) = (s"$base/checkpoint", s"$base/out")
    val input = MemoryStream[Ev](spark)
    def start() = input.toDF().select("event_id", "user_id")
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", out)
      .outputMode("append").start()

    val q1 = start()
    input.addData(evs.take(3)); q1.processAllAvailable()
    q1.stop()
    // rows arriving while the query is down + a replay-prone overlap batch
    input.addData(evs.drop(3))
    val q2 = start()
    input.addData(Ev(50, Timestamp.valueOf("2024-02-01 00:00:00"), 5, "view", None))
    q2.processAllAvailable(); q2.stop()

    val got = spark.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq
    assert(got === (evs.map(_.event_id) :+ 50L).sorted,
      "restart from the checkpoint must deliver every row exactly once")
  }

  test("watermark boundary: same-batch disorder survives; cross-batch late rows drop (counted)") {
    // The §2.7 divergence, pinned executable. Spark's micro-batch
    // watermark advances BETWEEN batches:
    //  (a) an out-of-order row in the SAME batch as the row that will
    //      advance the watermark is still aggregated — the reference's
    //      punctuated per-record watermark (StreamingJob.scala:56–65)
    //      would drop it;
    //  (b) a row arriving in a LATER batch behind the watermark is
    //      dropped, and the drop is observable in the progress metrics
    //      (numRowsDroppedByWatermark) — late-data accounting a
    //      deployment alarms on.
    val input = MemoryStream[Ev](spark)
    val q = StreamingAnalytics.windowedUserCounts(input.toDF(), "1 minute")
      .writeStream.format("memory").queryName("wm_boundary").outputMode("update").start()
    // batch 1: in-order, out-of-order-within-batch, then the max ts
    input.addData(
      Ev(0, Timestamp.valueOf("2024-01-01 10:00:05"), 1, "view", None),
      Ev(1, Timestamp.valueOf("2024-01-01 10:05:00"), 1, "view", None), // advances wm to 10:05
      Ev(2, Timestamp.valueOf("2024-01-01 10:00:20"), 1, "view", None)) // behind ev1, same batch
    q.processAllAvailable()
    // batch 2: late row behind the committed watermark -> dropped
    input.addData(Ev(3, Timestamp.valueOf("2024-01-01 10:00:40"), 1, "view", None))
    q.processAllAvailable()
    val dropped = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    q.stop()
    val counts = spark.table("wm_boundary").collect()
      .map(r => (r.getAs[Timestamp]("w_start").toInstant.toString, r.getLong(2)))
    // (a): the 10:00 window counted BOTH same-batch rows (ev0 + ev2)
    assert(counts.filter(_._1 == "2024-01-01T10:00:00Z").map(_._2).max === 2L,
      "same-batch out-of-order row must be aggregated (Spark is more permissive than the reference)")
    // (b): the cross-batch late row was dropped and accounted
    assert(dropped === 1L, s"late row should be dropped by the watermark, metrics saw $dropped")
    assert(counts.filter(_._1 == "2024-01-01T10:00:00Z").map(_._2).max === 2L,
      "dropped row must not have updated the window count")
  }

  test("dropDuplicatesWithinWatermark: bounded state re-admits a key after the horizon") {
    // firstEventPerUserBounded is the 100 TB replacement for the
    // reference's never-expiring Set state; the documented trade is that
    // a user re-appearing after the lateness horizon is emitted AGAIN
    // (state for the key was reclaimed). Pin both directions.
    val input = MemoryStream[Ev](spark)
    val q = StreamingAnalytics.firstEventPerUserBounded(input.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("bounded_dedup").outputMode("append").start()
    input.addData(
      Ev(0, Timestamp.valueOf("2024-01-01 10:00:00"), 1, "view", None),
      Ev(1, Timestamp.valueOf("2024-01-01 10:05:00"), 1, "view", None)) // dup within horizon
    q.processAllAvailable()
    // advance the watermark far past 10:00 + 10 min, expiring user 1's state
    input.addData(Ev(2, Timestamp.valueOf("2024-01-01 12:00:00"), 99, "view", None))
    q.processAllAvailable()
    input.addData(Ev(3, Timestamp.valueOf("2024-01-01 12:01:00"), 1, "view", None)) // re-appears
    q.processAllAvailable()
    q.stop()
    val u1 = spark.table("bounded_dedup").collect()
      .filter(_.getAs[Long]("user_id") == 1L).map(_.getAs[Long]("event_id")).sorted.toSeq
    assert(u1 === Seq(0L, 3L),
      "within-horizon duplicate suppressed; post-horizon re-appearance re-emitted (bounded state)")
  }

  test("streaming incremental dedup converges to the batch keeper table on in-order replay") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamingAnalytics.firstSeenContent(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("first_seen").outputMode("append").start()
    // two batches, in doc_id order: first-arrival == min doc_id per hash
    input.addData(docs.take(docs.length / 2).toSeq); q.processAllAvailable()
    input.addData(docs.drop(docs.length / 2).toSeq); q.processAllAvailable()
    q.stop()
    val streamKept = spark.table("first_seen").collect()
      .map(r => r.getAs[String]("content_md5") -> r.getAs[Long]("doc_id")).toMap
    val batchKept = graft.operators.Dedup.exactDedup(spark, sf0001).collect()
      .map(r => r.getAs[String]("text_md5") -> r.getAs[Long]("keep_doc_id")).toMap
    assert(streamKept === batchKept)
  }

  test("streaming span dedup converges to the batch q106 rewrite under any micro-batching") {
    // frozen history index + per-doc-only rewrite ⇒ micro-batch invariance
    val batchDocs = graft.sources.Tables.documents(spark, sf0001)
      .where(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(10)) === 9)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(batchDocs.nonEmpty)
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamingAnalytics.spanDedupPerBatch(spark, sf0001,
      input.toDF().toDF("doc_id", "text")) { rewrites =>
      collected ++= rewrites.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    }
    // three uneven micro-batches
    input.addData(batchDocs.take(3).toSeq); q.processAllAvailable()
    input.addData(batchDocs.slice(3, 4).toSeq); q.processAllAvailable()
    input.addData(batchDocs.drop(4).toSeq); q.processAllAvailable()
    q.stop()
    val batchRewrite = graft.operators.TextAnalysis.incrementalSpanDedup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(collected.toSet === batchRewrite)
    assert(collected.size === batchDocs.length)
    // the stream actually rewrote something: at least one doc lost tokens
    assert(collected.exists(_._3 > 0L))
  }

  test("streaming containment verdicts converge to batch q143 across a kill + restart") {
    // frozen containment index + cross-only per-doc verdicts ⇒ replays
    // are idempotent and any micro-batching reproduces the batch table
    val batchDocs = graft.sources.Tables.documents(spark, sf0001)
      .where(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(10)) === 9)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(batchDocs.nonEmpty)
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long, Long, String)]
    val input = MemoryStream[(Long, String)](spark)
    def start() = StreamingAnalytics.containmentVerdictsPerBatch(spark, sf0001,
      input.toDF().toDF("doc_id", "text")) { verdicts =>
      collected ++= verdicts.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getString(7)))
    }
    val q1 = start()
    input.addData(batchDocs.take(2).toSeq); q1.processAllAvailable()
    assert(q1.exception.isEmpty, s"q1 died: ${q1.exception}")
    q1.stop() // KILL mid-stream; rows arriving during the outage follow
    input.addData(batchDocs.drop(2).toSeq)
    val q2 = start()
    q2.processAllAvailable()
    assert(q2.exception.isEmpty, s"q2 died: ${q2.exception}")
    q2.stop()
    val batch = graft.operators.Dedup.containmentIncremental(spark, sf0001)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getString(7))).toSet
    // set-compare dedupes replayed rows: probing the frozen index is
    // idempotent, so a replayed doc's verdicts are identical
    assert(collected.toSet === batch,
      "union of streamed verdicts across the restart must equal batch q143")
    assert(batch.nonEmpty, "fixture must exercise the probe")
  }

  test("span-dedup scrubber restarts from the checkpoint: no doc lost, rewrites match batch q106") {
    val batchDocs = graft.sources.Tables.documents(spark, sf0001)
      .where(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(10)) === 9)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-spanrestart-ckpt").toString
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
    val input = MemoryStream[(Long, String)](spark)
    def start() = StreamingAnalytics.spanDedupPerBatch(spark, sf0001,
      input.toDF().toDF("doc_id", "text"), Some(ckpt)) { rewrites =>
      collected ++= rewrites.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    }
    // rewrite half the batch, then KILL the scrubber
    val q1 = start()
    input.addData(batchDocs.take(batchDocs.length / 2).toSeq); q1.processAllAvailable()
    assert(q1.exception.isEmpty, s"q1 died: ${q1.exception}")
    q1.stop()
    // rows arriving while it is down; restart must pick them up
    input.addData(batchDocs.drop(batchDocs.length / 2).toSeq)
    val q2 = start()
    q2.processAllAvailable()
    assert(q2.exception.isEmpty, s"q2 died: ${q2.exception}")
    q2.stop()
    val batch = graft.operators.TextAnalysis.incrementalSpanDedup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    // set-compare dedupes replayed rows: re-rewriting against the frozen
    // index is idempotent, so a replayed doc's tuple is identical
    assert(collected.toSet === batch,
      "union of streamed rewrites across the restart must equal batch q106")
    assert(collected.map(_._1).distinct.size === batchDocs.length,
      "every batch doc, including those arriving during the outage, must be rewritten")
  }

  test("shard-manifest export restarts from the checkpoint: converged state equals batch q127") {
    val batchDocs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val base = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    val input = MemoryStream[(Long, String)](spark)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    var updates = 0
    var manifest = Seq.empty[(Long, Long, Long, Long, Long, Long)]
    def start(ckpt: String, in: MemoryStream[(Long, String)] = input) =
      StreamingAnalytics.shardManifestPerBatch(in.toDF().toDF("doc_id", "text"), ckpt) { m =>
        updates += 1; manifest = rows(m)
      }
    // export a third of the corpus in two micro-batches, then KILL
    val third = batchDocs.length / 3
    val q1 = start(s"$base/ckpt")
    input.addData(batchDocs.take(third).toSeq); q1.processAllAvailable()
    input.addData(batchDocs.slice(third, 2 * third).toSeq); q1.processAllAvailable()
    assert(q1.exception.isEmpty, s"q1 died: ${q1.exception}")
    q1.stop()
    // rows arriving during the outage; restart folds them in
    input.addData(batchDocs.drop(2 * third).toSeq)
    val q2 = start(s"$base/ckpt")
    q2.processAllAvailable()
    assert(q2.exception.isEmpty, s"q2 died: ${q2.exception}")
    q2.stop()
    assert(updates === 3, "one manifest update per applied batch")
    // the last manifest handed over covers everything exported: it must
    // equal batch q127 over the same corpus, row for row
    val expect = rows(graft.operators.TextAnalysis.shardChecksums(spark, sf0001))
    assert(expect.nonEmpty)
    assert(manifest === expect,
      "incrementally maintained manifest must converge to the batch q127 table")
    // a restart with no new data runs no batch
    val q3 = start(s"$base/ckpt")
    q3.processAllAvailable(); q3.stop()
    assert(updates === 3, "a drained restart must not apply a batch")
    // a FRESH checkpoint starts from empty state: the corpus replayed
    // into it rebuilds the whole manifest, so nothing is silently dropped
    val replay = MemoryStream[(Long, String)](spark)
    val q4 = start(s"$base/ckpt-fresh", replay)
    replay.addData(batchDocs.take(third).toSeq); q4.processAllAvailable()
    replay.addData(batchDocs.drop(third).toSeq); q4.processAllAvailable()
    assert(q4.exception.isEmpty, s"q4 died: ${q4.exception}")
    q4.stop()
    assert(updates === 5, "one manifest update per replayed batch")
    assert(manifest === expect, "a fresh checkpoint must rebuild the full q127 manifest")
  }

  test("streaming PQ encode converges to the batch q152 table under any micro-batching") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val batchVecs = graft.sources.Tables.embeddings(spark, sf0001)
      .where(pmod(col("vec_id"), lit(10L)) === graft.operators.Similarity.BatchResidue)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    assert(batchVecs.nonEmpty)
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Double)]
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val q = StreamingAnalytics.pqEncodePerBatch(spark, sf0001,
      input.toDF().toDF("vec_id", "embedding")) { encoded =>
      collected ++= encoded.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getDouble(2)))
    }
    input.addData(batchVecs.take(3).toSeq); q.processAllAvailable()
    input.addData(batchVecs.slice(3, 4).toSeq); q.processAllAvailable()
    input.addData(batchVecs.drop(4).toSeq); q.processAllAvailable()
    assert(q.exception.isEmpty, s"query died: ${q.exception}")
    q.stop()
    val batch = graft.operators.Similarity.pqIncrementalEncode(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(collected.toSet === batch,
      "union of per-micro-batch PQ encodes must equal the batch q152 table")
    assert(collected.size === batchVecs.length)
  }

  test("streaming image dedup converges to the batch q137 verdicts under any micro-batching") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val batchImgs = graft.operators.Multimodal.mediaTable(spark, sf0001)
      .where(col("meta.format") === "bmp" && pmod(col("doc_id"), lit(10)) === 9)
      .select("doc_id", "payload").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload"))).sortBy(_._1)
    assert(batchImgs.nonEmpty)
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String, Any)]
    val input = MemoryStream[(Long, Array[Byte])](spark)
    val q = StreamingAnalytics.imageDupVerdictsPerBatch(spark, sf0001,
      input.toDF().toDF("doc_id", "payload")) { verdicts =>
      collected ++= verdicts.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
          if (r.isNullAt(4)) null else r.getLong(4)))
    }
    input.addData(batchImgs.take(5).toSeq); q.processAllAvailable()
    input.addData(batchImgs.slice(5, 6).toSeq); q.processAllAvailable()
    input.addData(batchImgs.drop(6).toSeq); q.processAllAvailable()
    assert(q.exception.isEmpty, s"query died: ${q.exception}")
    q.stop()
    val batch = graft.operators.Multimodal.imageIncrementalDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        if (r.isNullAt(4)) null else r.getLong(4))).toSet
    assert(collected.toSet === batch,
      "union of per-micro-batch image verdicts must equal the batch q137 table")
    assert(collected.size === batchImgs.length)
  }

  test("streaming video dedup converges to the batch q144 verdicts under any micro-batching") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val batchVids = graft.operators.Multimodal.mediaTable(spark, sf0001)
      .where(col("meta.format") === "vid" &&
        pmod(col("doc_id"), lit(graft.operators.Multimodal.VideoBatchMod))
          === graft.operators.Multimodal.VideoBatchResidue)
      .select("doc_id", "payload").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload"))).sortBy(_._1)
    assert(batchVids.nonEmpty)
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Any)]
    val input = MemoryStream[(Long, Array[Byte])](spark)
    val q = StreamingAnalytics.videoDupVerdictsPerBatch(spark, sf0001,
      input.toDF().toDF("doc_id", "payload")) { verdicts =>
      collected ++= verdicts.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2),
          if (r.isNullAt(3)) null else r.getLong(3)))
    }
    input.addData(batchVids.take(4).toSeq); q.processAllAvailable()
    input.addData(batchVids.slice(4, 5).toSeq); q.processAllAvailable()
    input.addData(batchVids.drop(5).toSeq); q.processAllAvailable()
    assert(q.exception.isEmpty, s"query died: ${q.exception}")
    q.stop()
    val batch = graft.operators.Multimodal.videoIncrementalDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getLong(3))).toSet
    assert(collected.toSet === batch,
      "union of per-micro-batch video verdicts must equal the batch q144 table")
    assert(collected.size === batchVids.length)
  }

  test("streaming video containment converges to the batch q148 verdicts under any micro-batching") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val batchVids = graft.operators.Multimodal.mediaTable(spark, sf0001)
      .where(col("meta.format") === "vid" &&
        pmod(col("doc_id"), lit(graft.operators.Multimodal.VideoBatchMod))
          === graft.operators.Multimodal.VideoBatchResidue)
      .select("doc_id", "payload").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload"))).sortBy(_._1)
    assert(batchVids.nonEmpty)
    type Row8 = (Long, Long, Long, Long, Long, Long, Long, String)
    def tup(r: org.apache.spark.sql.Row): Row8 =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getString(7))
    val collected = scala.collection.mutable.ArrayBuffer.empty[Row8]
    val input = MemoryStream[(Long, Array[Byte])](spark)
    val q = StreamingAnalytics.videoContainmentPerBatch(spark, sf0001,
      input.toDF().toDF("doc_id", "payload")) { verdicts =>
      collected ++= verdicts.collect().map(tup)
    }
    input.addData(batchVids.take(3).toSeq); q.processAllAvailable()
    input.addData(batchVids.drop(3).toSeq); q.processAllAvailable()
    assert(q.exception.isEmpty, s"query died: ${q.exception}")
    q.stop()
    val batch = graft.operators.Multimodal.videoPrefixIncremental(spark, sf0001)
      .collect().map(tup).toSet
    assert(collected.toSet === batch,
      "union of per-micro-batch containment verdicts must equal the batch q148 table")
  }

  test("streaming audio containment restarts from the checkpoint and converges to the batch q174 verdicts") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val batchTracks = graft.operators.Multimodal.mediaTable(spark, sf0001)
      .where(col("meta.format") === "wav" && pmod(col("doc_id"), lit(10)) === 9)
      .select("doc_id", "payload").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload"))).sortBy(_._1)
    assert(batchTracks.nonEmpty)
    type Row8 = (Long, Long, Long, Long, Long, Long, Long, String)
    def tup(r: org.apache.spark.sql.Row): Row8 =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getString(7))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-audctn-ckpt").toString
    val collected = scala.collection.mutable.ArrayBuffer.empty[Row8]
    val input = MemoryStream[(Long, Array[Byte])](spark)
    def start() = StreamingAnalytics.audioContainmentPerBatch(spark, sf0001,
      input.toDF().toDF("doc_id", "payload"), ckpt) { verdicts =>
      collected ++= verdicts.collect().map(tup)
    }
    // micro-batch 1, then KILL the query
    val q1 = start()
    input.addData(batchTracks.take(3).toSeq); q1.processAllAvailable()
    assert(q1.exception.isEmpty, s"q1 died: ${q1.exception}")
    q1.stop()
    // tracks arriving while the query is down; the restart picks them up
    input.addData(batchTracks.drop(3).toSeq)
    val q2 = start()
    q2.processAllAvailable()
    assert(q2.exception.isEmpty, s"q2 died: ${q2.exception}")
    q2.stop()
    // set-union of per-micro-batch verdicts across the kill = batch q174
    // (idempotent per track, so a crash-replayed micro-batch is harmless)
    val batch = graft.operators.Multimodal.audioPrefixIncremental(spark, sf0001)
      .collect().map(tup).toSet
    assert(collected.toSet === batch,
      "verdicts across kill+restart must equal the batch q174 table")
  }

  test("streaming rate-normalized audio containment catches a resampled increment at ingest and survives kill+restart (q177 twin)") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val W = graft.operators.Multimodal.AudioPrefixWindowSamples
    val batchTracks = graft.operators.Multimodal.mediaTable(spark, sf0001)
      .where(col("meta.format") === "wav" && pmod(col("doc_id"), lit(10)) === 9)
      .select("doc_id", "payload").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload"))).sortBy(_._1)
    assert(batchTracks.nonEmpty)
    // the r16 ingest gap, replayed THROUGH the stream: a 16 kHz
    // resampled+clipped copy of a corpus-side source arrives as one of
    // the increments
    val src = graft.operators.Multimodal.mediaTable(spark, sf0001)
      .where(s"meta.format = 'wav' AND doc_id % 10 <> 9 AND doc_id % 2000 + 500 >= ${3 * W + 1}")
      .orderBy("doc_id").limit(1).collect().head
    val srcId = src.getLong(0)
    val samples = scala.collection.mutable.ArrayBuffer.empty[Short]
    graft.operators.MediaCodecs.decodeWav(src.getAs[Array[Byte]]("payload"))(samples += _)
    val copyId = 8888889L
    val copy = graft.operators.MediaCodecs.encodeWav(
      Array.tabulate((2 * W + W / 2) * 2)(j => samples(j / 2)), 16000)
    type Row10 = (Long, Long, Int, Int, Long, Long, Long, Long, Long, String)
    def tup(r: org.apache.spark.sql.Row): Row10 =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8), r.getString(9))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-audnorm-ckpt").toString
    val collected = scala.collection.mutable.ArrayBuffer.empty[Row10]
    val input = MemoryStream[(Long, Array[Byte])](spark)
    def start() = StreamingAnalytics.audioContainmentNormalizedPerBatch(spark, sf0001,
      input.toDF().toDF("doc_id", "payload"), ckpt) { verdicts =>
      collected ++= verdicts.collect().map(tup)
    }
    // micro-batch 1 carries the resampled increment, then KILL
    val q1 = start()
    input.addData(batchTracks.take(3).toSeq :+ (copyId, copy)); q1.processAllAvailable()
    assert(q1.exception.isEmpty, s"q1 died: ${q1.exception}")
    q1.stop()
    assert(collected.exists(v => v._1 === copyId && v._2 === srcId
        && v._3 === 16000 && v._4 === 8000 && v._10 === "d1_in_d2"),
      "the resampled increment must be caught AT INGEST, not by a later batch audit")
    // tracks arriving while the query is down; the restart picks them up
    input.addData(batchTracks.drop(3).toSeq)
    val q2 = start()
    q2.processAllAvailable()
    assert(q2.exception.isEmpty, s"q2 died: ${q2.exception}")
    q2.stop()
    // set-union across the kill = batch q177 table ∪ the increment's
    // own verdicts (both pure functions of (track, frozen index))
    import spark.implicits._
    val batch = graft.operators.Multimodal.audioPrefixIncrementalNormalized(spark, sf0001)
      .collect().map(tup).toSet
    val fixture = graft.operators.Multimodal.audioPrefixIncrementalNormalizedOf(spark, sf0001,
      Seq((copyId, copy)).toDF("doc_id", "payload")).collect().map(tup).toSet
    assert(collected.toSet === (batch ++ fixture),
      "verdicts across kill+restart must equal batch q177 plus the increment's verdicts")
  }

  test("streaming time-normalized video containment catches a re-timed increment at ingest and survives kill+restart (q179 twin)") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val batchVids = graft.operators.Multimodal.mediaTable(spark, sf0001)
      .where(col("meta.format") === "vid" &&
        pmod(col("doc_id"), lit(graft.operators.Multimodal.VideoBatchMod))
          === graft.operators.Multimodal.VideoBatchResidue)
      .select("doc_id", "payload").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload"))).sortBy(_._1)
    assert(batchVids.nonEmpty)
    // the r17 ingest gap, replayed THROUGH the stream: a 48 fps
    // frame-doubled clipped re-encode of a corpus-side source arrives
    // as one of the increments (q179's spec fixture)
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val src = graft.operators.Multimodal.mediaTable(spark, sf0001)
      .where(s"meta.format = 'vid' AND meta.n_frames >= 4 AND " +
        s"doc_id % ${graft.operators.Multimodal.VideoBatchMod} <> " +
        s"${graft.operators.Multimodal.VideoBatchResidue}")
      .select("doc_id", "payload", "meta.width", "meta.height", "meta.n_frames")
      .orderBy("doc_id").limit(12).collect()
      .find { row =>
        val hs = graft.operators.Multimodal.videoFrameHashSeqNormalized(
          row.getLong(0), row.getAs[Array[Byte]]("payload")).toSeq.map(r => (r.hi, r.lo))
        hs.sliding(2).forall {
          case Seq(a, b) => ham(a, b) > graft.operators.Multimodal.ImgHammingMax
          case _ => true
        }
      }.getOrElse(fail("no high-motion corpus-side source at this SF"))
    val srcId = src.getLong(0)
    val (w, h, nf) = (src.getInt(2), src.getInt(3), src.getInt(4))
    val copyId = 9999997L
    val copy = graft.operators.MediaCodecs.encodePpmStream(w, h, 2 * (nf - 1), 48,
      (f, i) => graft.operators.Multimodal.vidVal(srcId, f / 2, i))
    type Row10 = (Long, Long, Int, Int, Long, Long, Long, Long, Long, String)
    def tup(r: org.apache.spark.sql.Row): Row10 =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8), r.getString(9))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-vidnorm-ckpt").toString
    val collected = scala.collection.mutable.ArrayBuffer.empty[Row10]
    val input = MemoryStream[(Long, Array[Byte])](spark)
    def start() = StreamingAnalytics.videoContainmentNormalizedPerBatch(spark, sf0001,
      input.toDF().toDF("doc_id", "payload"), ckpt) { verdicts =>
      collected ++= verdicts.collect().map(tup)
    }
    // micro-batch 1 carries the re-timed increment, then KILL
    val q1 = start()
    input.addData(batchVids.take(3).toSeq :+ (copyId, copy)); q1.processAllAvailable()
    assert(q1.exception.isEmpty, s"q1 died: ${q1.exception}")
    q1.stop()
    assert(collected.exists(v => v._1 === copyId && v._2 === srcId
        && v._3 === 48 && v._4 === 24 && v._10 === "d1_in_d2"),
      "the re-timed increment must be caught AT INGEST, not by a later batch audit")
    // videos arriving while the query is down; the restart picks them up
    input.addData(batchVids.drop(3).toSeq)
    val q2 = start()
    q2.processAllAvailable()
    assert(q2.exception.isEmpty, s"q2 died: ${q2.exception}")
    q2.stop()
    // set-union across the kill = batch q179 table ∪ the increment's
    // own verdicts (both pure functions of (video, frozen index))
    import spark.implicits._
    val batch = graft.operators.Multimodal.videoPrefixIncrementalTimeNormalized(spark, sf0001)
      .collect().map(tup).toSet
    val fixture = graft.operators.Multimodal.videoPrefixIncrementalTimeNormalizedOf(spark, sf0001,
      Seq((copyId, copy)).toDF("doc_id", "payload")).collect().map(tup).toSet
    assert(collected.toSet === (batch ++ fixture),
      "verdicts across kill+restart must equal batch q179 plus the increment's verdicts")
  }

  test("streaming audio dedup converges to the batch q145 verdicts under any micro-batching") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val batchTracks = graft.operators.Multimodal.mediaTable(spark, sf0001)
      .where(col("meta.format") === "wav" && pmod(col("doc_id"), lit(10)) === 9)
      .select("doc_id", "payload").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload"))).sortBy(_._1)
    assert(batchTracks.nonEmpty)
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String, Any)]
    val input = MemoryStream[(Long, Array[Byte])](spark)
    val q = StreamingAnalytics.audioDupVerdictsPerBatch(spark, sf0001,
      input.toDF().toDF("doc_id", "payload")) { verdicts =>
      collected ++= verdicts.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
          if (r.isNullAt(4)) null else r.getLong(4)))
    }
    input.addData(batchTracks.take(5).toSeq); q.processAllAvailable()
    input.addData(batchTracks.drop(5).toSeq); q.processAllAvailable()
    assert(q.exception.isEmpty, s"query died: ${q.exception}")
    q.stop()
    val batch = graft.operators.Multimodal.audioIncrementalDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        if (r.isNullAt(4)) null else r.getLong(4))).toSet
    assert(collected.toSet === batch,
      "union of per-micro-batch audio verdicts must equal the batch q145 table")
    assert(collected.size === batchTracks.length)
  }

  test("streaming near-dup probe converges to the batch q72 verdicts under any micro-batching") {
    // the stream twin probes the SAME persisted corpus index per
    // micro-batch; since batch docs are judged against the corpus only,
    // any partition of the batch must reproduce the batch verdict table
    val batchDocs = graft.sources.Tables.documents(spark, sf0001)
      .where(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(10)) === 9)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(batchDocs.nonEmpty)
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Any, Any)]
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamingAnalytics.nearDupVerdictsPerBatch(spark, sf0001,
      input.toDF().toDF("doc_id", "text")) { verdicts =>
      collected ++= verdicts.collect().map(r =>
        (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) null else r.getLong(2),
          if (r.isNullAt(3)) null else r.getDouble(3)))
    }
    // three uneven micro-batches
    input.addData(batchDocs.take(3).toSeq); q.processAllAvailable()
    input.addData(batchDocs.slice(3, 4).toSeq); q.processAllAvailable()
    input.addData(batchDocs.drop(4).toSeq); q.processAllAvailable()
    q.stop()
    val batchVerdicts = graft.operators.Dedup.incrementalNearDup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toSet
    assert(collected.toSet === batchVerdicts)
    assert(collected.size === batchDocs.length)
  }

  test("near-dup probe+append restarts from the checkpoint: verdicts match batch q72, index has no duplicate or missing buckets") {
    import spark.implicits._
    // own fixture dir so no other test's appends pollute the index; batch
    // docs are pairwise unrelated, so interleaved per-micro-batch appends
    // cannot change any later verdict (q72 judges against the corpus)
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu", "en", "t", 1L),
      (2L, "query planners and shuffle exchanges dominate distributed execution cost", "en", "t", 1L),
      (3L, "vectors centroids clusters probes residuals quantizers codebooks training", "en", "t", 1L))
    val batch = Seq(
      (9L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu", "en", "t", 1L), // near-dup of 1
      (19L, "unrelated fresh document with brand new vocabulary entirely present", "en", "t", 1L),
      (29L, "query planners and shuffle exchanges dominate distributed execution time", "en", "t", 1L), // near-dup of 2
      (39L, "totally novel sentences mentioning gardens rivers mountains and weather", "en", "t", 1L))
    def writeFixture(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-ndrestart").toString
      (corpus ++ batch).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val dir = writeFixture()
    val batchDf = batch.toDF("doc_id", "text", "lang", "source", "n_chars")
    // q72 reference verdicts: whole batch against the PRE-append index
    val expected = graft.operators.Dedup.incrementalNearDupOf(spark, dir, batchDf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(expected === Map(9L -> "dup", 19L -> "new", 29L -> "dup", 39L -> "new"))

    val ckpt = java.nio.file.Files.createTempDirectory("graft-ndrestart-ckpt").toString
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val input = MemoryStream[(Long, String)](spark)
    def start() = StreamingAnalytics.nearDupProbeAndAppendPerBatch(
      spark, dir, input.toDF().toDF("doc_id", "text"), ckpt) { verdicts =>
      collected ++= verdicts.collect().map(r => (r.getLong(0), r.getString(1)))
    }
    // micro-batch 1, then KILL the query
    val q1 = start()
    input.addData(batch.take(2).map(d => (d._1, d._2))); q1.processAllAvailable()
    assert(q1.exception.isEmpty, s"q1 died: ${q1.exception}")
    q1.stop()
    // rows arriving while the query is down; restart picks them up
    input.addData(batch.drop(2).map(d => (d._1, d._2)))
    val q2 = start()
    q2.processAllAvailable()
    assert(q2.exception.isEmpty, s"q2 died: ${q2.exception}")
    q2.stop()

    // verdicts: every batch doc judged exactly as batch q72 judged it
    // (dedupe by doc_id — a crash-replayed micro-batch may re-emit rows)
    assert(collected.toMap === expected)
    // index integrity vs a single-shot whole-batch append on an identical
    // corpus: same bucket membership — nothing duplicated, nothing missing
    val shot = writeFixture()
    graft.operators.Dedup.appendNovelBatchBucketsOf(spark, shot, batchDf)
    def members(d: String) = spark.table(graft.operators.Dedup.ensureLshBandIndex(spark, d))
      .select("band_idx", "band_key", "doc_id").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val got = members(dir)
    assert(got.length === got.distinct.length, "no duplicate index rows after restart")
    assert(got.toSet === members(shot).toSet,
      "streamed appends must converge to the single-shot batch append")
    // replaying the whole batch once more appends nothing (idempotence)
    assert(graft.operators.Dedup.appendNovelBatchBucketsOf(spark, dir, batchDf) === 0L)
  }

  test("curation gate scorer restarts from the checkpoint: no doc lost, verdicts match batch q90") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-gaterestart-ckpt").toString
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    val input = MemoryStream[(Long, String)](spark)
    def start() = StreamingAnalytics.gateVerdictsPerBatch(spark, sf0001,
      input.toDF().toDF("doc_id", "text"), Some(ckpt)) { verdicts =>
      collected ++= verdicts.collect().map(r =>
        (r.getLong(0), r.getAs[Long]("fail_mask"), r.getAs[Boolean]("keep")))
    }
    // score half the corpus, then KILL the scorer
    val q1 = start()
    input.addData(docs.take(docs.length / 2).toSeq); q1.processAllAvailable()
    assert(q1.exception.isEmpty, s"q1 died: ${q1.exception}")
    q1.stop()
    // rows arriving while the scorer is down; restart must pick them up
    input.addData(docs.drop(docs.length / 2).toSeq)
    val q2 = start()
    q2.processAllAvailable()
    assert(q2.exception.isEmpty, s"q2 died: ${q2.exception}")
    q2.stop()
    val batch = graft.operators.TextAnalysis.curationGate(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("fail_mask"), r.getAs[Boolean]("keep"))).toSet
    // set-compare dedupes by doc_id: a crash-replayed micro-batch may
    // re-emit rows (at-least-once), but re-scoring against the frozen
    // model is idempotent so the verdict tuple is identical
    assert(collected.toSet === batch,
      "union of streamed verdicts across the restart must equal batch q90")
    assert(collected.map(_._1).distinct.size === docs.length,
      "every doc, including those arriving during the outage, must be scored")
  }

  test("streaming curation gate reproduces the batch q90 verdicts under any micro-batching") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamingAnalytics.gateVerdictsPerBatch(spark, sf0001,
      input.toDF().toDF("doc_id", "text")) { verdicts =>
      collected ++= verdicts.collect().map(r =>
        (r.getLong(0), r.getAs[Long]("fail_mask"), r.getAs[Boolean]("keep")))
    }
    input.addData(docs.take(7).toSeq); q.processAllAvailable()
    input.addData(docs.drop(7).toSeq); q.processAllAvailable()
    q.stop()
    val batch = graft.operators.TextAnalysis.curationGate(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("fail_mask"), r.getAs[Boolean]("keep"))).toSet
    assert(collected.toSet === batch)
    assert(collected.size === docs.length)
  }

  test("streaming drift monitor: each micro-batch's report equals the frozen-history recompute of that slice") {
    // drift is a per-BATCH aggregate: each micro-batch gets its own
    // report, and that report must be the pure function of (slice,
    // frozen history histogram) — replay determinism for a monitor
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .where(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(10)) === 9)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(docs.length >= 2)
    val slices = Seq(docs.take(3), docs.drop(3))
    val reports = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Long, Long, BigInt)]]
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamingAnalytics.driftReportPerBatch(spark, sf0001,
      input.toDF().toDF("doc_id", "text")) { report =>
      reports += report.collect().toSeq.map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), BigInt(r.getString(5))))
    }
    slices.foreach { s => input.addData(s.toSeq); q.processAllAvailable() }
    q.stop()
    assert(reports.length === slices.length)
    slices.zip(reports).foreach { case (slice, streamed) =>
      import spark.implicits._
      val expect = graft.operators.TextAnalysis
        .tokenDriftOf(spark, sf0001, slice.toSeq.toDF("doc_id", "text"))
        .collect().toSeq.map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), BigInt(r.getString(5))))
      assert(streamed === expect, "micro-batch report must equal the direct recompute")
    }
    // the monitor sees real evidence: some batch-only or shifted token
    // must score positive drift in at least one report
    assert(reports.exists(_.exists(_._4 > 0)))
  }

  test("drift monitor restarts from the checkpoint: outage batch still reported, reports match recompute") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .where(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(10)) === 9)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(docs.length >= 2)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-driftrestart-ckpt").toString
    val reports = scala.collection.mutable.ArrayBuffer.empty[Set[(String, Long, Long, BigInt)]]
    val input = MemoryStream[(Long, String)](spark)
    def start() = StreamingAnalytics.driftReportPerBatch(spark, sf0001,
      input.toDF().toDF("doc_id", "text"), Some(ckpt)) { report =>
      reports += report.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), BigInt(r.getString(5)))).toSet
    }
    // one increment reported, then the monitor is KILLED
    val q1 = start()
    input.addData(docs.take(docs.length / 2).toSeq); q1.processAllAvailable()
    assert(q1.exception.isEmpty, s"q1 died: ${q1.exception}")
    q1.stop()
    // an increment arrives during the outage; restart must report it
    input.addData(docs.drop(docs.length / 2).toSeq)
    val q2 = start()
    q2.processAllAvailable()
    assert(q2.exception.isEmpty, s"q2 died: ${q2.exception}")
    q2.stop()
    // a replay may re-emit a batch's report (at-least-once); dedupe by
    // content — the frozen model makes the replayed report identical
    val distinctReports = reports.distinct
    assert(distinctReports.size === 2,
      s"expected 2 distinct increment reports, got ${distinctReports.size} (${reports.size} raw)")
    import spark.implicits._
    Seq(docs.take(docs.length / 2), docs.drop(docs.length / 2)).zip(distinctReports)
      .foreach { case (slice, streamed) =>
        val expect = graft.operators.TextAnalysis
          .tokenDriftOf(spark, sf0001, slice.toSeq.toDF("doc_id", "text"))
          .collect().map(r =>
            (r.getString(0), r.getLong(1), r.getLong(2), BigInt(r.getString(5)))).toSet
        assert(streamed === expect, "report across the restart must equal the direct recompute")
      }
  }

  test("drift monitor survives a multi-batch outage: every outage doc reported exactly once") {
    // The single-batch restart leg above pins one outage increment; this
    // leg pins INVARIANCE UNDER OUTAGE LENGTH: two separate increments
    // arrive while the monitor is down. Structured Streaming may deliver
    // them after restart as two micro-batches or coalesce them into one
    // (offset planning, not our code, decides) — the monitor's contract
    // is that either way, the post-restart reports are exactly the
    // frozen-model recomputes of a PARTITION of the outage docs: each
    // outage doc is covered by exactly one report, none twice, none lost.
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .where(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(10)) === 9)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(docs.length >= 3, "need at least three docs to form three increments")
    val Seq(first, mid, last) =
      Seq(docs.take(docs.length / 3), docs.slice(docs.length / 3, 2 * docs.length / 3),
        docs.drop(2 * docs.length / 3)).map(_.toSeq)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-driftoutage-ckpt").toString
    val reports = scala.collection.mutable.ArrayBuffer.empty[Set[(String, Long, Long, BigInt)]]
    val input = MemoryStream[(Long, String)](spark)
    def start() = StreamingAnalytics.driftReportPerBatch(spark, sf0001,
      input.toDF().toDF("doc_id", "text"), Some(ckpt)) { report =>
      reports += report.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), BigInt(r.getString(5)))).toSet
    }
    import spark.implicits._
    def recompute(slice: Seq[(Long, String)]): Set[(String, Long, Long, BigInt)] =
      graft.operators.TextAnalysis
        .tokenDriftOf(spark, sf0001, slice.toDF("doc_id", "text"))
        .collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), BigInt(r.getString(5)))).toSet
    val q1 = start()
    input.addData(first); q1.processAllAvailable()
    assert(q1.exception.isEmpty, s"q1 died: ${q1.exception}")
    q1.stop()
    // a MULTI-batch outage: two increments land while the monitor is down
    input.addData(mid)
    input.addData(last)
    val q2 = start()
    q2.processAllAvailable()
    assert(q2.exception.isEmpty, s"q2 died: ${q2.exception}")
    q2.stop()
    // at-least-once replay may re-emit a report; the frozen model makes
    // replays content-identical, so distinct-by-content is exact
    val post = reports.distinct.filterNot(_ == recompute(first))
    val twoBatches = Seq(recompute(mid), recompute(last))
    val oneBatch = Seq(recompute(mid ++ last))
    assert(post == twoBatches || post == oneBatch,
      s"post-restart reports must partition the outage docs (got ${post.size} " +
        s"reports; expected ${twoBatches.map(_.size)} as two batches or " +
        s"${oneBatch.map(_.size)} as one)")
    assert(reports.distinct.head === recompute(first),
      "the pre-outage report must be the first increment's recompute")
  }

  test("streaming ingest sampler: any micro-batching reproduces q122's epoch draw exactly") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val epoch = 3L // the uniform rung: every source carries a nonzero rate
    val rates = graft.operators.TextAnalysis
      .annealedRatesOf(graft.sources.Tables.documents(spark, sf0001))
      .where(org.apache.spark.sql.functions.col("epoch") === epoch)
      .select("source", "rate_permille").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val expect = docs.filter { case (id, src) =>
      Math.floorMod(id * 2654435761L + 987654321L
        + epoch * graft.operators.TextAnalysis.AnnealEpochSalt, 1000L) < rates(src)
    }.map(_._1).toSet
    assert(expect.nonEmpty, "epoch-3 rates must draw something from the fixture")
    val sampled = scala.collection.mutable.ArrayBuffer.empty[Long]
    val input = MemoryStream[(Long, String)](spark)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val listenersBefore = spark.streams.listListeners().toSeq
    val q = StreamingAnalytics.annealedSamplePerBatch(spark, sf0001, epoch,
      input.toDF().toDF("doc_id", "source")) { batch =>
      sampled ++= batch.collect().map(_.getLong(0))
    }
    docs.grouped(math.max(1, docs.length / 3)).foreach { slice =>
      input.addData(slice.toSeq); q.processAllAvailable()
    }
    assert(q.exception.isEmpty, s"sampler died: ${q.exception}")
    q.stop()
    assert(sampled.toSet === expect,
      "union of per-batch draws must equal the batch sampler's draw")
    assert(sampled.length === sampled.distinct.length, "no doc sampled twice")
    // a stopped sampler leaves no cached table and no listener behind
    val cachedAfter = spark.sparkContext.getPersistentRDDs.keySet
    assert((cachedAfter -- cachedBefore).isEmpty, s"cached RDDs left: ${cachedAfter -- cachedBefore}")
    assert(spark.streams.listListeners().toSeq === listenersBefore)
  }

  test("streaming session windows split on the 30-minute gap") {
    // session aggregation only supports append mode: sessions flush when
    // the watermark passes their end, so push two future sentinel batches
    // to advance it past every real session
    val input = MemoryStream[Ev](spark)
    val q = StreamingAnalytics.sessionCounts(input.toDF())
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    input.addData(evs); q.processAllAvailable()
    input.addData(Ev(98, Timestamp.valueOf("2024-03-01 00:00:00"), 98, "view", None)); q.processAllAvailable()
    input.addData(Ev(99, Timestamp.valueOf("2024-04-01 00:00:00"), 99, "view", None)); q.processAllAvailable()
    q.stop()
    val rows = spark.table("sessions").collect().filter(_.getAs[Long]("user_id") < 90)
    // user 1: one session (10-minute gap); user 2: one session (the
    // 23:59:59 → 00:00:00 gap is 1 second)
    val u1 = rows.filter(_.getAs[Long]("user_id") == 1L)
    assert(u1.length === 1 && u1.head.getAs[Long]("n_events") === 2L)
    val u2 = rows.filter(_.getAs[Long]("user_id") == 2L)
    assert(u2.length === 1 && u2.head.getAs[Long]("n_events") === 2L)
  }
}
