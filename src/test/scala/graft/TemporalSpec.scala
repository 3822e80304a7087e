package graft

import org.apache.spark.sql.functions._

import graft.operators.Temporal
import graft.sources.Tables

class TemporalSpec extends SparkSpec {

  test("as-of join equals the brute-force latest-preceding-order computation") {
    val got = Temporal.asofLatestOrder(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getDouble(4))).toSeq

    // brute force: theta-join + per-event argmax (the formulation the
    // operator deliberately avoids at scale)
    val e = Tables.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), unix_timestamp(col("ts")).as("et"))
    val o = Tables.orders(spark, sf0001)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        unix_timestamp(col("o_orderdate")).as("ot"))
    val brute = e.join(o, col("o_custkey") === col("user_id") && col("ot") <= col("et"), "left")
      .groupBy("event_id")
      .agg(max(struct(col("ot"), col("o_orderkey"), col("o_totalprice"))).as("top"))
      .select(col("event_id"),
        coalesce(col("top.o_orderkey"), lit(-1L)).as("oid"),
        coalesce(col("top.o_totalprice"), lit(0.0)).as("price"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    assert(got.sortBy(_._1) === brute.sortBy(_._1))
    assert(got.nonEmpty && got.exists(_._2 >= 0), "fixture should produce real matches")
  }

  test("as-of join plan: no theta-join — one shuffle on the key, window pass") {
    val plan = Temporal.asofLatestOrder(spark, sf0001).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"as-of must not plan a nested-loop/cartesian join:\n$plan")
    assert(plan.contains("Window"), "as-of should run as a window over the merged timeline")
  }

  test("prefix-sum range count equals the bucketized range join exactly") {
    val viaPrefix = Temporal.eventNeighborCounts(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val viaBuckets = Temporal.eventNeighborCountsBucketed(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(viaPrefix === viaBuckets)
  }

  test("bucketized range join equals the naive |dt| <= w self-join") {
    val got = Temporal.eventNeighborCountsBucketed(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap

    val e = Tables.events(spark, sf0001)
      .select(col("event_id"), unix_timestamp(col("ts")).as("t"))
    val brute = e.as("a").crossJoin(e.as("b"))
      .where(abs(col("a.t") - col("b.t")) <= Temporal.RangeWindowSec
        && col("a.event_id") =!= col("b.event_id"))
      .groupBy(col("a.event_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    // brute inner join drops zero-neighbor events; the operator keeps them
    brute.foreach { case (id, n) => assert(got(id) === n, s"event $id") }
    (got.keySet -- brute.keySet).foreach { id => assert(got(id) === 0L) }
    assert(got.size === e.count())
  }

  test("prefix-sum range count builds a LAZY plan: no Spark job runs at construction") {
    // one warm call: the first read of a table infers its schema in a job;
    // every later read reuses the remembered schema and runs none
    Temporal.eventNeighborCounts(spark, sf0001)
    // the operator must not add an action either (the old eager .head()
    // bounds probe surfaced here as a "head at Temporal.scala" stage)
    val (jobs, df) = jobsOf(Temporal.eventNeighborCounts(spark, sf0001))
    assert(jobs.isEmpty, s"construction ran jobs: ${stageNames(jobs).mkString(", ")}")
    assert(df.count() > 0, "the lazy plan still executes")
  }

  test("prefix-sum range count on an empty events table returns empty, not an NPE") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Temporal.eventNeighborCounts(spark, dir)
    assert(out.columns.toSeq === Seq("event_id", "n_within_1h"))
    assert(out.count() === 0L)
  }
}
