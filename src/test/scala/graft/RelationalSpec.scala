package graft

import org.apache.spark.sql.functions._

import graft.operators.Relational

class RelationalSpec extends SparkSpec {

  test("approx_percentile sketch lands within 1% of the exact percentiles") {
    // q58 is band-gated (r13): the query itself now emits the 1%-band
    // verdict against an in-engine exact leg. This test keeps the band
    // honest with an INDEPENDENT recompute: the emitted exact value must
    // equal q51's, and the verdict must equal a from-scratch comparison
    // of a separately-computed approx_percentile against it.
    val exact = Relational.priceQuantiles(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getAs[Double]("q")) -> r.getAs[Double]("price_quantile")).toMap
    val approxRaw = graft.sources.Tables.orders(spark, sf0001)
      .groupBy(org.apache.spark.sql.functions.col("o_orderstatus"))
      .agg(org.apache.spark.sql.functions
        .expr("approx_percentile(o_totalprice, array(0.25D, 0.5D, 0.75D, 0.95D), 10000)").as("ap"),
        org.apache.spark.sql.functions
          .expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.75D, 0.95D))").as("ex"))
      .collect()
      .flatMap { r =>
        val qs = Seq(0.25, 0.5, 0.75, 0.95)
        val ap = r.getSeq[Double](1)
        val ex = r.getSeq[Double](2)
        qs.indices.map(i => (r.getString(0), qs(i)) -> (ap(i), ex(i)))
      }.toMap
    val gated = Relational.priceQuantilesApprox(spark, sf0001).collect()
    assert(gated.length === exact.size)
    gated.foreach { r =>
      val key = (r.getString(0), r.getAs[Double]("q"))
      val (a, e) = approxRaw(key)
      assert(r.getAs[Double]("price_quantile") ===
        BigDecimal(e).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"$key: emitted exact leg diverges from q51's")
      assert(r.getAs[Boolean]("sketch_within_1pct") === (math.abs(a - e) * 100 <= math.abs(e)),
        s"$key: band verdict disagrees with independent recompute")
      assert(math.abs(a - e) / e <= 0.01, s"$key: approx $a vs exact $e out of band")
    }
  }

  test("AQE splits a skewed shuffle join at runtime (the automatic half of q42's salting)") {
    // q42 documents manual salting as the explicit tool for extreme skew;
    // this pins the AUTOMATIC path the scaladoc points to: with AQE skew
    // handling on, a hot join key is split across reducers at runtime
    // with no query rewrite. Isolated session — suites share one
    // SparkSession in parallel, so thresholds must not leak.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
    // one hot key (0) carrying 200k of 201k fact rows against a 1001-row dim
    val fact = s.range(200000).selectExpr("0L AS k", "id AS v")
      .union(s.range(1000).selectExpr("id + 1 AS k", "id AS v"))
    val dim = s.range(1001).selectExpr("id AS k", "id * 7 AS w")
    val joined = fact.join(dim, "k")
    // execute THIS dataframe's queryExecution (count() would plan a
    // separate query and leave joined's adaptive plan unfinalized)
    assert(joined.collect().length === 201000)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true") || plan.contains("skewed"),
      s"expected a runtime skew-split join in:\n${plan.take(4000)}")
    // and the split is semantics-invisible: totals match the closed form
    // (every fact row joins exactly one dim row; w = 7k)
    val agg = joined.groupBy().sum("v", "w").head()
    assert(agg.getLong(0) === (0L until 200000L).sum + (0L until 1000L).sum)
    assert(agg.getLong(1) === 7L * (1L to 1000L).sum)
  }

  test("q42 counted: salting pays exactly ONE extra exchange over the unsalted query") {
    // Isolated session with the broadcast threshold off: at this tiny SF
    // the planner would broadcast every join and hide the exchanges under
    // measure — threshold -1 forces the shuffle-join shapes the queries
    // have at 100 TB (the explicit broadcast() hints on nation/region
    // still apply, as they would at scale). The counted claim: the whole
    // price of salting is ONE extra exchange — the distinct-correction
    // shuffle n_orders needs once the dim replication makes order rows
    // non-unique downstream of the join. Any hidden extra shuffle (e.g.
    // a repartition smuggled into the salt fanout) fails the count.
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val unsalted = Relational.revenueByNation(s, sf0001)
    val salted = Relational.revenueByNationSalted(s, sf0001)
    val nU = shuffleExchanges(unsalted).size
    val nS = shuffleExchanges(salted).size
    assert(nS === nU + 1, s"salted ran $nS exchanges, unsalted $nU — want exactly +1")
    // and salting stays semantics-invisible, same rows in the same order
    assert(salted.collect().toSeq === unsalted.collect().toSeq)
  }

  test("q107: differential salting is semantics-invisible and the fixture exercises both paths") {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // misclassification-invisibility, made concrete: whatever the sampled
    // hot set is, the result is row-identical to the unsalted query
    val unsalted = Relational.revenueByNation(s, sf0001)
    val diff = Relational.revenueByNationSaltedDifferential(s, sf0001)
    assert(diff.collect().toSeq === unsalted.collect().toSeq)
    // and the parity above actually tested both join paths: the sampled
    // hot set is neither empty (salted path dead) nor all keys (cold
    // path dead)
    val hot = Relational.sampledHotKeys(s, sf0001, hotSampleMin = 2).count()
    val allKeys = graft.sources.Tables.lineitem(s, sf0001)
      .select("l_orderkey").distinct().count()
    assert(hot > 0, "fixture produced an empty hot set — salted path untested")
    assert(hot < allKeys, "every key classified hot — cold path untested")
  }

  test("q171: advisor rows match a driver recompute; fanout is bounded and only hot keys appear") {
    import graft.operators.Relational
    val keys = graft.sources.Tables.lineitem(spark, sf0001)
      .select("l_orderkey").collect().map(_.getLong(0))
    val counts = keys.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val total = keys.length.toLong
    val fair = total / counts.size
    val top = counts.toSeq.sortBy { case (k, c) => (-c, k) }.take(Relational.SkewTopK)
    val expect = top.filter(_._2 > Relational.SkewHotFactor * fair).map { case (k, c) =>
      (k, c, fair, 1000L * c / fair,
        math.min(Relational.SkewMaxSalt, (c + fair - 1) / fair))
    }
    val rows = Relational.skewAdvisor(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(rows === expect)
    assert(rows.nonEmpty, "fixture carries no hot keys — the advisor is untested")
    rows.foreach { case (_, cnt, f, ratio, salt) =>
      assert(salt >= 2L && salt <= Relational.SkewMaxSalt,
        "advised fanout for a flagged key must be a real split within the cap")
      assert(ratio > 1000L * Relational.SkewHotFactor, s"non-hot key reported (ratio $ratio)")
      assert(cnt > Relational.SkewHotFactor * f)
    }
  }

  test("q11 plan: lineitem pre-aggregates before the join, no expand for countDistinct") {
    val df = Relational.revenueByNation(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), "countDistinct expand should be gone after the pre-agg rewrite")
  }

  test("relational headline shapes pinned: q10/q11/q14/q42 counted exchanges (r13)") {
    // The r12 bench mystery centered on q14's driver-run inflation with no
    // way to mechanically exclude a plan change; these pins do for the
    // relational block what r12's ProfilingSpec pins did for q33/q34b —
    // any future timing drift on unchanged shapes adjudicates to the rig.
    def shapes(name: String): (Seq[String], Int) = {
      val df = SparkEntry.queries(name)(spark, sf0001)
      df.collect()
      val sh = shuffleExchanges(df).map(_.outputPartitioning.toString)
      val bc = allPlanNodes(df.queryExecution.executedPlan).count {
        case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => true
        case _ => false
      }
      (sh, bc)
    }
    // q10: ONE data shuffle (the two-phase grouped agg; map-side partials
    // ride the scan) + the contract sort, whose exchange CollectedSort makes
    // single-partition, not range; no joins, no broadcasts
    val (e10, b10) = shapes("q10_pricing_summary")
    assert(e10.length === 2
      && e10.count(_.startsWith("hashpartitioning(l_returnflag")) === 1
      && e10.count(_ == "SinglePartition") === 1
      && e10.count(_.startsWith("rangepartitioning")) === 0, e10.toString)
    assert(b10 === 0, s"q10 broadcasts: $b10")
    // q11: the orders<->lineitem join shuffles ONLY on l_orderkey (one
    // data-sized exchange); region/nation/customer stay broadcast; then
    // the nation-grained agg hash + contract sort
    val (e11, b11) = shapes("q11_revenue_by_nation")
    assert(e11.length === 3
      && e11.count(_.startsWith("hashpartitioning(l_orderkey")) === 1
      && e11.count(_.startsWith("hashpartitioning(r_name")) === 1
      && e11.count(_ == "SinglePartition") === 1
      && e11.count(_.startsWith("rangepartitioning")) === 0, e11.toString)
    assert(b11 === 4, s"q11 broadcasts: $b11")
    // q14: the rollup is ONE grouping-id hash agg (no per-level re-scan)
    // + the contract sort
    val (e14, b14) = shapes("q14_rollup_returns")
    assert(e14.length === 2
      && e14.count(_.contains("spark_grouping_id")) === 1
      && e14.count(_ == "SinglePartition") === 1
      && e14.count(_.startsWith("rangepartitioning")) === 0, e14.toString)
    assert(b14 === 0, s"q14 broadcasts: $b14")
    // q42: the salted pre-agg shuffles on (group, salt), the final agg on
    // the group alone, + the contract sort; dims stay broadcast
    val (e42, b42) = shapes("q42_salted_revenue")
    assert(e42.length === 3
      && e42.count(p => p.startsWith("hashpartitioning(r_name") && p.contains("o_orderkey")) === 1
      && e42.count(p => p.startsWith("hashpartitioning(r_name") && !p.contains("o_orderkey")) === 1
      && e42.count(_ == "SinglePartition") === 1
      && e42.count(_.startsWith("rangepartitioning")) === 0, e42.toString)
    assert(b42 === 4, s"q42 broadcasts: $b42")
  }
}
