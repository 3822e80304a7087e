package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.{BloomMightContain, Simhash64}
import graft.sources.{Artifacts, Tables}

/** Deduplication operators over `documents` — the core of a training-data
  * pipeline at 100 TB.
  *
  * Three tiers, by cost:
  *  1. exact (hash groupBy) — one shuffle on a 16-byte digest;
  *  2. exact n-gram Jaccard via shingle posting lists — shuffles
  *     (doc, shingle) pairs once, expands pairs per posting list, and a
  *     document-frequency cutoff bounds the per-shingle expansion at
  *     O(maxDf²) so a stop-phrase shingle (df = 10⁶ in a web corpus)
  *     can never generate 10¹² candidate pairs;
  *  3. MinHash + LSH banding — fixed-size signatures (64 longs/doc)
  *     regardless of document length; candidate pairs come from band
  *     buckets, then are verified on the signature. This is the 100 TB
  *     path: shuffle volume is O(n · bands), not O(n · shingles).
  *
  * Every pair-generation step is bounded: posting lists by the df
  * cutoff, LSH buckets by [[MaxBucket]] (a degenerate bucket — a
  * 10M-copy boilerplate cluster, routine in web corpora — keeps its
  * [[MaxBucket]] smallest doc_ids and reports the overflow through an
  * `observe` metric instead of OOMing one task). Capped-away members are
  * exactly the mass exact-dedup (tier 1) removes first in a real
  * pipeline.
  */
object Dedup {

  /** Exact dedup on whitespace-normalized content hash. Keeps min doc_id
    * as the canonical representative (deterministic, unlike
    * dropDuplicates). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    exactDedupUnordered(spark, dir).orderBy("text_md5")

  /** [[exactDedup]] without the presentation sort — for composition
    * (q100's view joins on the digest and re-shuffles anyway; the
    * ordered form is q27's verify contract, positional against the
    * oracle's ORDER BY). */
  private[graft] def exactDedupUnordered(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("text_md5"))
      .agg(
        min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_copies"))

  /** q68 — INCREMENTAL exact dedup: a new batch of documents probed
    * against the already-deduplicated corpus index, the pattern that keeps
    * dedup tractable on a growing 100 TB corpus — the daily batch (≪ the
    * corpus) is hashed and joined against the index; the corpus itself is
    * never re-scanned per batch in production (here both sides derive from
    * the one test table, split by a pure function of doc_id: batch =
    * `doc_id % 10 = 9`, index = the rest, keeper = min doc_id per hash —
    * q27's canonical-representative rule).
    *
    * Scale shape: the index groupBy and the probe join key on the SAME
    * 16-byte digest, so the join reuses the aggregation's partitioning
    * (one effective shuffle of the index + one of the small batch). In
    * production the index lives as a table bucketed by `content_md5` (the
    * q46 layout): the per-batch probe then shuffles ONLY the new batch,
    * and appending the batch's novel hashes preserves the bucketing.
    * Output is per-batch-document: kept or dropped, with the canonical
    * duplicate target for lineage. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val hashed = Tables.documents(spark, dir).select(
      col("doc_id"),
      md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("content_md5"))
    val isBatch = pmod(col("doc_id"), lit(10)) === 9
    val index = hashed.where(!isBatch)
      .groupBy("content_md5").agg(min(col("doc_id")).as("dup_of"))
    hashed.where(isBatch)
      .join(index, Seq("content_md5"), "left")
      .select(
        col("doc_id"),
        col("content_md5"),
        when(col("dup_of").isNull, lit("new")).otherwise(lit("dup")).as("status"),
        col("dup_of"))
      .orderBy("doc_id")
  }

  /** Bloom filters over the corpus index's content hashes, built once per
    * documents file set and [[Tables.remember]]ed under this name. ~1.2
    * bytes/key at 3% fpp (a 10⁹-key index is ~1.2 GB); past that a
    * deployment shards the filter by the index's hash bucket. */
  private[graft] final val BloomFilters = "bloom_filter"

  private def hashedDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("content_md5"))

  /** Build (memoized) the corpus-index Bloom filter: distributed
    * aggregation over the index side's distinct hashes, serialized for
    * embedding into probe plans. Runs two actions on first call per
    * corpus (count for sizing + the filter build) — the documented
    * eager "index build" step, NOT part of any per-batch probe plan. */
  def corpusBloomBytes(spark: SparkSession, dir: String): Array[Byte] =
    Tables.remember(spark, BloomFilters, Nil, Seq(Tables.path(dir, "documents"))) {
      val index = hashedDocs(spark, dir)
        .where(pmod(col("doc_id"), lit(10)) =!= 9)
        .select("content_md5").distinct()
      val n = index.count()
      // empty corpus: stat.bloomFilter aggregates zero rows into a filter
      // with a null bit buffer (writeTo NPEs); an explicit 1-capacity
      // filter with nothing inserted says "definitively new" for every
      // probe — exactly the right verdict against an empty index
      val bf = if (n == 0) org.apache.spark.util.sketch.BloomFilter.create(1L, 0.03)
        else index.stat.bloomFilter("content_md5", n, 0.03)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }

  /** q74 — BLOOM-PRUNED incremental exact dedup: q68's batch-vs-corpus
    * probe, with a Bloom filter over the index's hashes deciding—on the
    * batch's own scan, zero shuffle—which batch rows can possibly be
    * duplicates. Bloom-negative rows are DEFINITIVELY new (no false
    * negatives) and bypass the probe join entirely; only the bloom-hit
    * rows (true dups + ~3% false positives) shuffle into the exact
    * confirm join, whose left-join null handles the false positives.
    *
    * Same output contract as q68 — the filter changes WHICH rows pay the
    * shuffle, never the answer — so the DuckDB oracle is the plain
    * batch-vs-corpus join and a hash mismatch would catch a false
    * negative end-to-end. Pruning effectiveness is surfaced through the
    * `q74_bloom_probe` observe metrics (batch_rows / bloom_hits).
    *
    * Scale shape: at 100 TB with a mostly-novel daily batch, the confirm
    * join's probe side shrinks from |batch| to |dups| + 3% — the shuffle
    * becomes proportional to the duplicate mass instead of the batch
    * size. The filter broadcasts once per executor (codegen init parses
    * it from bytes — see [[graft.functions.BloomMightContain]]). */
  def bloomIncrementalDedup(spark: SparkSession, dir: String): DataFrame =
    bloomIncrementalDedup(spark, dir, None)

  /** [[bloomIncrementalDedup]] with an optional caller-owned
    * [[org.apache.spark.sql.Observation]] attached to the probe metrics.
    * The global `q74_bloom_probe` capture in [[Diagnostics]] is a
    * last-value-per-NAME map — fine for a production health report, but
    * two concurrent invocations (e.g. parallel test suites, one of them
    * on an empty corpus) race on the name and a reader can see the OTHER
    * run's counters. An `Observation` is bound to this one Dataset and
    * its `get` blocks until the owning action delivers, so a caller that
    * needs ITS run's numbers passes one here and reads it race-free. */
  def bloomIncrementalDedup(spark: SparkSession, dir: String,
      probe: Option[org.apache.spark.sql.Observation]): DataFrame = {
    Diagnostics.install(spark)
    val hashed = hashedDocs(spark, dir)
    val isBatch = pmod(col("doc_id"), lit(10)) === 9
    val index = hashed.where(!isBatch)
      .groupBy("content_md5").agg(min(col("doc_id")).as("dup_of"))
    val mightContain = ColumnBridge.of(BloomMightContain(
      ColumnBridge.expr(col("content_md5")), corpusBloomBytes(spark, dir)))
    val batch = hashed.where(isBatch)
      .withColumn("bloom_hit", mightContain)
    val confirmed = batch.where(col("bloom_hit"))
      .join(index, Seq("content_md5"), "left")
    val fresh = batch.where(!col("bloom_hit"))
      .withColumn("dup_of", lit(null).cast("long"))
    val ordered = confirmed.unionByName(fresh)
      .select(
        col("doc_id"),
        col("content_md5"),
        col("bloom_hit"),
        when(col("dup_of").isNull, lit("new")).otherwise(lit("dup")).as("status"),
        col("dup_of"))
      .orderBy("doc_id")
    // observed ABOVE the sort, after the union: below the union the
    // batch subtree appears in BOTH branches, and below the sort the
    // range-partitioner's sampling pass replays the child — either
    // placement double-counts every row
    val probeAggs = Seq(
      count(lit(1)).as("batch_rows"),
      sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("bloom_hits"))
    val observed = probe match {
      case Some(o) => ordered.observe(o, probeAggs.head, probeAggs.tail: _*)
      case None    => ordered.observe("q74_bloom_probe", probeAggs.head, probeAggs.tail: _*)
    }
    observed.drop("bloom_hit")
  }

  /** Word-3-gram shingles per document (with duplicates). */
  private def rawShinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("tks"))
      .where(size(col("tks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(tks)-3), i -> concat_ws(' ', tks[i], tks[i+1], tks[i+2]))")).as("sh"))

  private def rawShingles(spark: SparkSession, dir: String): DataFrame =
    rawShinglesOf(Tables.documents(spark, dir))

  /** Distinct word-3-gram shingles per document (set semantics for the
    * inverted-index Jaccard join), as 16-byte md5 DIGESTS from the
    * persisted [[shingleDigests]] table — the q76 span-table play for
    * the 3-gram family: q28's posting lists, the q29b/q29c signature
    * builds, and q99's exact-Jaccard recompute all re-derived the same
    * tokenize→3-gram explode before this table existed. Digests are
    * md5-injective over the corpus (the [[TextAnalysis.spanDigests]]
    * argument), so every count/equality downstream is unchanged; the
    * DuckDB oracles keep deriving from raw text every verify run, so the
    * artifact is re-gated, never frozen. */
  private def shingles(spark: SparkSession, dir: String): DataFrame =
    shingleDigests(spark, dir).select(col("doc_id"), col("gh").as("sh"))

  /** The persisted distinct (doc_id, 3-gram digest) artifact, built
    * under the [[graft.sources.Artifacts]] contract. At 100 TB this is
    * the corpus-sized table you'd bucket by digest. */
  private[graft] def shingleDigests(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "shingle_digests", 3)(
      rawShingles(spark, dir)
        .select(col("doc_id"), unhex(md5(col("sh"))).as("gh"))
        .distinct())

  /** Document-frequency cutoff for [[nearDupJaccard]]: shingles shared by
    * more than this many documents are dropped from the representation
    * (sizes AND intersections — i.e. Jaccard is defined over the filtered
    * shingle sets, the standard recall-safe stop-shingle treatment). */
  val MaxShingleDf = 50

  /** Members kept per LSH band bucket (smallest doc_ids, deterministic).
    * Bounds the in-bucket pair expansion at O(MaxBucket²) per bucket. */
  val MaxBucket = 64

  /** Exact n-gram Jaccard near-dup pairs (threshold 0.6) over
    * df-filtered shingle sets, via posting lists: one shuffle groups
    * (doc, shingle) postings by shingle; lists with df > [[MaxShingleDf]]
    * are dropped (stop-phrases — they would expand O(df²) pairs and carry
    * no near-dup signal); pairs expand in-array, bounded per shingle. */
  def nearDupJaccard(spark: SparkSession, dir: String): DataFrame =
    nearDupJaccardUnordered(spark, dir).orderBy("d1", "d2")

  /** [[nearDupJaccard]] without the presentation sort (q28's positional
    * verify contract) — [[nearDupLabels]] feeds the pair graph straight
    * into CC rounds that re-shuffle it, so a range exchange of every
    * pair first would be pure waste. */
  private def nearDupJaccardUnordered(spark: SparkSession, dir: String): DataFrame =
    filteredPairStats(spark, dir)
      .select(col("d1"), col("d2"),
        (col("inter").cast("double") / (col("n1") + col("n2") - col("inter"))).as("j"))
      .where(col("j") >= 0.6)
      .select(col("d1"), col("d2"), round(col("j"), 6).as("jaccard"))

  /** The posting-list pair core shared by q28 and q135: per candidate
    * pair over the df-filtered shingle representation, the intersection
    * count plus both set sizes — every set-overlap statistic (Jaccard,
    * containment) is a projection of these three integers.
    *
    * PERSISTED per corpus fingerprint (r14): the posting-list expansion
    * is the expensive shared step that FOUR consumers re-derived per
    * call — q28's Jaccard cut, q135's containment cut, q29's
    * exact-truth recall leg, and the q61 label build — so it lands once
    * as a (d1, d2, inter, n1, n2) parquet table and each consumer pays
    * a read of the (small) candidate-pair set, under the
    * [[graft.sources.Artifacts]] contract; the DuckDB oracles
    * keep re-deriving every consumer from raw text each verify run, so
    * the artifact is re-gated, never frozen. Fixture paths
    * ([[filteredPairStatsOf]]) stay live: an arbitrary frame has no
    * artifact. */
  private def filteredPairStats(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "pair_stats", MaxShingleDf + 7)(
      filteredPairStatsOf(shingles(spark, dir)))

  /** [[filteredPairStats]] over an arbitrary DISTINCT (doc_id, sh)
    * shingle frame (the corpus path's digest table is distinct by
    * construction; fixture callers dedup first). */
  private def filteredPairStatsOf(sh: DataFrame): DataFrame = {
    val postings = sh
      .groupBy(col("sh"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ds"))
      .where(size(col("ds")) <= MaxShingleDf)
    // per-doc set size over the SAME filtered representation (Catalyst
    // reuses the groupBy(sh) exchange for both branches)
    val sizes = postings
      .select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = postings
      .where(size(col("ds")) >= 2)
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds)), y -> named_struct('d1', x, 'd2', y))))""".stripMargin)).as("p"))
      .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"), col("inter"),
        col("s1.n_sh").as("n1"), col("s2.n_sh").as("n2"))
  }

  /** q163 — cross-source duplicate-mass report: the q28 near-dup pairs
    * rolled up by unordered source pair, with each cell's share of the
    * total duplicate mass and a cross-source flag. This is the report a
    * corpus curator reads to learn WHICH domains duplicate WHICH — the
    * web-scale reality (mirror sites, syndication, crawl-snapshot
    * overlap) that per-document dedup metrics can't show; C4/RefinedWeb
    *-style pipelines publish exactly this cut before deciding
    * source-level dedup policy.
    *
    * Scale shape: the pair set is the persisted artifact-backed q28
    * candidate set (bounded by the df-capped posting lists), enriched
    * with `source` via two doc_id equi-joins against a 2-column
    * projection of documents; the rollup is a source-pair-bounded
    * groupBy and the total a window over that bounded table. Nothing
    * quadratic, nothing corpus-sized past the joins. */
  def crossSourceDupMass(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = nearDupJaccardUnordered(spark, dir).select("d1", "d2")
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val g = pairs
      .join(src.select(col("doc_id").as("d1"), col("source").as("src1")), Seq("d1"))
      .join(src.select(col("doc_id").as("d2"), col("source").as("src2")), Seq("d2"))
      .groupBy(least(col("src1"), col("src2")).as("source_a"),
        greatest(col("src1"), col("src2")).as("source_b"))
      .agg(count(lit(1)).as("n_dup_pairs"))
    g.withColumn("tot", sum(col("n_dup_pairs")).over(Window.partitionBy()))
      .select(col("source_a"), col("source_b"), col("n_dup_pairs"),
        round(col("n_dup_pairs").cast("double") / col("tot").cast("double"), 6)
          .as("pair_share"),
        (col("source_a") =!= col("source_b")).as("is_cross"))
      .orderBy("source_a", "source_b")
  }

  /** Jaccard thresholds (permille) swept by [[dedupThresholdSweep]]. */
  val SweepThresholds: Seq[Long] = Seq(500L, 600L, 700L, 800L, 900L)

  /** q167 — dedup threshold OPERATING CURVE: for each candidate Jaccard
    * cutoff, the pair count, the distinct documents any such pair
    * touches, and the character mass those documents carry — the table a
    * curator reads to PICK the threshold (q28 hardcodes 0.6; this shows
    * what 0.5 vs 0.9 would flag and how much corpus mass is at stake,
    * the sweep Lee et al. 2022 §4 run before fixing their cutoff).
    * Jaccard here is the exact integer permille `(1000·inter) div
    * union` so every cell is arithmetic-exact cross-engine.
    *
    * Scale shape: the candidate set is the persisted df-capped pair
    * artifact (pair-graph-sized, NOT corpus-sized); per-doc max-Jaccard
    * folds the pair endpoints once (so the sweep is conditional
    * aggregation over one bounded table, not five scans); the only
    * corpus touches are one n_chars equi-join against the flagged docs
    * and one 1-row total-chars aggregate. The two crossJoins are 1-row
    * scalar broadcasts (the PlanGuard-allowlisted pattern). */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val ps = filteredPairStats(spark, dir)
      .select(col("d1"), col("d2"),
        expr("(1000L * inter) div (n1 + n2 - inter)").as("jp"))
    val docMax = ps.select(col("d1").as("doc_id"), col("jp"))
      .union(ps.select(col("d2").as("doc_id"), col("jp")))
      .groupBy("doc_id").agg(max(col("jp")).as("mj"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")), Seq("doc_id"))
    val pairAgg = ps.agg(
      SweepThresholds.map(t =>
        sum(when(col("jp") >= t, 1L).otherwise(0L)).as(s"p$t")).head,
      SweepThresholds.map(t =>
        sum(when(col("jp") >= t, 1L).otherwise(0L)).as(s"p$t")).tail: _*)
    val docAgg = docMax.agg(
      SweepThresholds.flatMap(t => Seq(
        sum(when(col("mj") >= t, 1L).otherwise(0L)).as(s"d$t"),
        sum(when(col("mj") >= t, col("n_chars")).otherwise(0L)).as(s"c$t"))).head,
      SweepThresholds.flatMap(t => Seq(
        sum(when(col("mj") >= t, 1L).otherwise(0L)).as(s"d$t"),
        sum(when(col("mj") >= t, col("n_chars")).otherwise(0L)).as(s"c$t"))).tail: _*)
    val total = Tables.documents(spark, dir).agg(sum(col("n_chars")).as("total_chars"))
    val stackArgs = SweepThresholds
      .map(t => s"${t}L, p$t, d$t, c$t").mkString(", ")
    pairAgg.crossJoin(broadcast(docAgg)).crossJoin(broadcast(total))
      .selectExpr(
        s"stack(${SweepThresholds.length}, $stackArgs) AS " +
          "(threshold_permille, n_pairs, n_docs_flagged, flagged_chars)",
        "total_chars")
      .select(col("threshold_permille"), col("n_pairs"), col("n_docs_flagged"),
        col("flagged_chars"),
        round(col("flagged_chars").cast("double") / col("total_chars").cast("double"), 6)
          .as("flagged_char_share"))
      .orderBy("threshold_permille")
  }

  /** Containment threshold (permille of the contained side's set). */
  val ContainmentPermille = 800L

  /** q135 — asymmetric CONTAINMENT dedup: pairs where one document's
    * shingle set is ≥ [[ContainmentPermille]]‰ contained in the other's
    * (`inter/|A|`), the statistic that catches PARTIAL copying —
    * a short document quoted whole inside a longer one, or a page
    * re-published with boilerplate appended. Jaccard (q28) misses
    * exactly these: a 10-shingle doc fully inside a 100-shingle doc has
    * containment 1.0 but Jaccard 0.1. Same df-filtered posting-list
    * representation and candidate machinery as q28 (one shared core,
    * [[filteredPairStats]]); the report is integer-exact permille with
    * a direction verdict (d1_in_d2 / d2_in_d1 / mutual).
    *
    * Scale shape: identical to q28's — one shingle-keyed shuffle into
    * df-capped posting lists, in-list pair expansion bounded at
    * O(MaxShingleDf²) per shingle, a pair-keyed count, two size joins.
    * The extra statistic costs two integer divisions. */
  def containmentDedup(spark: SparkSession, dir: String): DataFrame =
    containmentFrom(filteredPairStats(spark, dir))

  /** Containment over an arbitrary (doc_id, text) frame — the spec's
    * partial-copy fixture path (the graded corpus's duplicate classes
    * are whole-copy, so only the `mutual` verdict shows up there). */
  private[graft] def containmentDedupOf(docs: DataFrame): DataFrame =
    containmentFrom(filteredPairStatsOf(rawShinglesOf(docs).distinct()))

  /** Frozen containment index (r13): the corpus split's (doc_id % 10 ≠ 9,
    * the q68 split) shingle digests with the corpus-df stop list applied,
    * persisted once per corpus fingerprint as THREE tables under one
    * logical artifact — kept postings (gh, doc_id), the stop list (gh:
    * corpus df > [[MaxShingleDf]]), and per-doc filtered set sizes — so a
    * batch probe touches nothing corpus-sized beyond the equi-joins it
    * needs (bucketed by gh/doc_id at 100 TB → shuffle-free). The df cut
    * is FROZEN at index-build time (the q90/q111 frozen-model contract):
    * a batch never re-prices corpus document frequencies, which is what
    * keeps the probe batch-proportional. One [[graft.sources.Artifacts]]
    * path, gated on the postings table. */
  private[graft] def containmentIndexPaths(spark: SparkSession, dir: String): (String, String, String) = {
    val base = Artifacts.path(spark, dir, "containment_idx", MaxShingleDf)
    (base + "/postings", base + "/stop", base + "/sizes")
  }

  private[graft] def containmentIndex(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (pPath, sPath, zPath) = containmentIndexPaths(spark, dir)
    if (!Artifacts.isBuilt(spark, pPath)) {
      val corpus = shingleDigests(spark, dir)
        .where(pmod(col("doc_id"), lit(10)) =!= 9)
      val withDf = corpus
        .withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("gh")))
      // postings land LAST: isBuilt() probes the postings path, so its
      // _SUCCESS certifies the whole three-table artifact
      withDf.where(col("df") > MaxShingleDf)
        .select(col("gh")).distinct()
        .write.mode("overwrite").parquet(sPath)
      withDf.where(col("df") <= MaxShingleDf)
        .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        .write.mode("overwrite").parquet(zPath)
      withDf.where(col("df") <= MaxShingleDf)
        .select(col("gh"), col("doc_id"))
        .write.mode("overwrite").parquet(pPath)
    }
    (Tables.parquet(spark, pPath), Tables.parquet(spark, sPath), Tables.parquet(spark, zPath))
  }

  /** q143 — INCREMENTAL containment dedup: [[containmentDedup]]'s q135
    * verdicts for a crawl increment WITHOUT re-pairing the corpus — the
    * q68/q106 split applied to partial-copy detection. The batch
    * (doc_id % 10 = 9) is shingled and digested map-side, the frozen
    * stop list removes index-time stop-shingles from its representation,
    * and one equi-join against the kept postings yields (batch doc,
    * corpus doc) intersections; sizes join on both ends, then q135's
    * containment thresholds and relation verdicts verbatim. Batch docs
    * never pair each other (q72's contract) — which is exactly what
    * makes the streaming twin ([[graft.streaming.StreamingAnalytics
    * .containmentVerdictsPerBatch]]) reproduce this table under ANY
    * micro-batching.
    *
    * Scale shape: batch-proportional — only the batch is shingled; every
    * corpus-sized touch is an equi-join (gh or doc_id keyed) against the
    * persisted index; no posting self-join, no corpus re-shingle, no df
    * recount. */
  def containmentIncremental(spark: SparkSession, dir: String): DataFrame =
    containmentIncrementalOf(spark, dir,
      Tables.documents(spark, dir).where(pmod(col("doc_id"), lit(10)) === 9))

  /** [[containmentIncremental]] over an arbitrary (doc_id, text) batch —
    * the per-micro-batch core of the streaming twin. */
  /** Batch-representation size (total text bytes — tracks kept shingle
    * rows within a small constant) above which
    * [[containmentIncrementalOf]] STOPS forcing broadcast joins: the
    * `broadcast()` hint overrides autoBroadcastJoinThreshold, so an
    * over-cap increment used to FAIL with a broadcast/driver OOM instead
    * of degrading (r15, advisory). 128 MB of batch text ≈ a comfortably
    * sub-GB shingle build side; above it the hints drop away and
    * Catalyst/AQE pick the shuffle join — slower, never fatal. */
  private[graft] val BroadcastBatchTextBytesCap = 128L * 1024 * 1024

  private[graft] def containmentIncrementalOf(spark: SparkSession, dir: String,
      batch: DataFrame): DataFrame = {
    val (postings, stop, sizes) = containmentIndex(spark, dir)
    // pin the batch ONCE (batch-proportional by contract, so a cheap
    // pin): the size probe below is an extra Spark action, and without
    // the pin it re-executed the batch's upstream lineage on every call
    // — including once per micro-batch in the streaming twin (r15,
    // advisory). The probe and the shingle build now both read the
    // materialized copy.
    val pinned = batch.select(col("doc_id"), col("text")).localCheckpoint(true)
    val bsh = rawShinglesOf(pinned)
      .select(col("doc_id"), unhex(md5(col("sh"))).as("gh"))
      .distinct()
      .join(stop, Seq("gh"), "left_anti")
    val n1 = bsh.groupBy(col("doc_id")).agg(count(lit(1)).as("n1"))
    // the BATCH side broadcasts (it is the batch-proportional side by
    // construction); the corpus-sized posting table is then scanned in
    // place with a map-side hash join — no corpus shuffle per increment.
    // The hint is GATED on a one-scan size estimate of the batch (cheap:
    // batch-proportional by definition): an increment over
    // [[BroadcastBatchTextBytesCap]] degrades to the unhinted shuffle
    // join instead of dying on the forced broadcast. The per-micro-batch
    // streaming twin is always far under the threshold.
    val canBroadcast =
      pinned.agg(coalesce(sum(length(col("text"))), lit(0L))).head().getLong(0) <=
        BroadcastBatchTextBytesCap
    def hint(df: DataFrame): DataFrame = if (canBroadcast) broadcast(df) else df
    val inter = postings.withColumnRenamed("doc_id", "d2")
      .join(hint(bsh), Seq("gh"))
      .groupBy(col("doc_id").as("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
    // pair-bounded side broadcasts again: sizes stays an unshuffled scan
    hint(inter.join(n1.withColumnRenamed("doc_id", "d1"), Seq("d1")))
      .join(sizes.select(col("doc_id").as("d2"), col("n_sh").as("n2")), Seq("d2"))
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
        expr("(1000L * inter) div n1").as("cont1_permille"),
        expr("(1000L * inter) div n2").as("cont2_permille"))
      .where(greatest(col("cont1_permille"), col("cont2_permille")) >= ContainmentPermille)
      .withColumn("relation",
        when(col("cont1_permille") >= ContainmentPermille &&
             col("cont2_permille") >= ContainmentPermille, "mutual")
          .when(col("cont1_permille") >= ContainmentPermille, "d1_in_d2")
          .otherwise("d2_in_d1"))
      .orderBy("d1", "d2")
  }

  private def containmentFrom(stats: DataFrame): DataFrame =
    stats
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
        expr("(1000L * inter) div n1").as("cont1_permille"),
        expr("(1000L * inter) div n2").as("cont2_permille"))
      .where(greatest(col("cont1_permille"), col("cont2_permille")) >= ContainmentPermille)
      .withColumn("relation",
        when(col("cont1_permille") >= ContainmentPermille &&
             col("cont2_permille") >= ContainmentPermille, "mutual")
          .when(col("cont1_permille") >= ContainmentPermille, "d1_in_d2")
          .otherwise("d2_in_d1"))
      .orderBy("d1", "d2")

  /** Near-dup CLUSTERS: connected components over the [[nearDupJaccard]]
    * pair graph — the step a dedup pipeline runs after pair generation
    * (pairs say "a≈b, b≈c"; the keep/drop decision needs the {a,b,c}
    * cluster). Component id = min doc_id in the component, the canonical
    * keeper.
    *
    * Alternating LARGE-STAR / SMALL-STAR contraction (the MapReduce CC
    * algorithm of Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014): each round rewrites the edge set so every node
    * hooks onto the minimum of its neighborhood —
    *   large-star: per node u, connect every neighbor v > u to
    *     m = min(Γ(u) ∪ {u});
    *   small-star: per node u (edges oriented large→small), connect u and
    *     all its smaller neighbors to their minimum.
    * Components contract to stars rooted at their global minimum in
    * O(log n) rounds — vs O(diameter) for naive min-label propagation,
    * whose worst case (a path-shaped duplicate chain) degrades to one
    * sequential shuffle round per hop. DedupSimilaritySpec drives a
    * 200-vertex path through in ≤ 12 rounds.
    *
    * Both star operations are a single `Window.partitionBy(src)` min —
    * no collect_list, no driver data. ONE Spark job per round: the
    * round's localCheckpoint is LAZY and the exact fixpoint probe (the
    * algorithm's fixpoints are precisely star forests, so converged ⇔
    * zero src-repeats and zero src∩dst vertices — no confirm round, no
    * checksum race) is the action that materializes it. Lineage stays
    * O(1) across rounds via localCheckpoint — on a cluster where executor
    * loss matters, swap in `checkpoint()` against a replicated dir (same
    * contract, +1 HDFS write per round). */
  val MaxCcIters = 20

  /** Connected components over an undirected edge list (`src`,`dst`;
    * either or both directions, self-loops ignored). Returns the
    * (`id`,`comp`) label table (comp = component min at convergence),
    * whether the star fixpoint was reached within `maxIters` rounds, and
    * the rounds used. */
  private[graft] def connectedComponents(edges: DataFrame, maxIters: Int): (DataFrame, Boolean, Int) = {
    import org.apache.spark.sql.expressions.Window
    // canonical large→small orientation, deduped — the small-star input shape
    var e = edges.where(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"), least(col("src"), col("dst")).as("dst"))
      .distinct().localCheckpoint(true)
    // vertex set off the CHECKPOINTED init, not the input lineage — the
    // pair-generation upstream (the expensive part) runs exactly once.
    // (Vertices appearing only in self-loops are singletons and drop out.)
    val verts = e
      .select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .distinct()
    // Fixpoint test, exact and single-round: the alternating algorithm's
    // fixpoints are precisely STAR FORESTS (a chain v→u→m never survives
    // large-star), and a deduped edge set is a star forest iff no vertex
    // appears both as src and dst and no src repeats. Counting those
    // violations rides the SAME action that materializes the round — no
    // checksum-vs-last-round job and no extra confirm round.
    def starViolations(df: DataFrame): Long =
      df.select(explode(array(
          struct(col("src").as("v"), lit(1L).as("s")),
          struct(col("dst").as("v"), lit(0L).as("s")))).as("p"))
        .groupBy(col("p.v"))
        .agg(sum(col("p.s")).as("ns"), sum(lit(1L) - col("p.s")).as("nd"))
        .agg(coalesce(sum(when(col("ns") > 1 || (col("ns") > 0 && col("nd") > 0), 1L)
          .otherwise(0L)), lit(0L)))
        .head().getLong(0)
    var converged = false
    var iters = 0
    while (!converged && iters < maxIters) {
      val undirected = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val large = undirected
        .withColumn("m", least(min(col("dst")).over(Window.partitionBy("src")), col("src")))
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
      // large-star output is already oriented src > dst (dst = a group
      // minimum ≤ that group's key < the emitted src), so small-star
      // needs no re-orientation pass
      val small = large
        .withColumn("m", min(col("dst")).over(Window.partitionBy("src")))
        .select(explode(array(
          struct(col("src").as("a"), col("m").as("b")),
          struct(col("dst").as("a"), col("m").as("b")))).as("p"))
        .select(col("p.a").as("src"), col("p.b").as("dst"))
        .where(col("src") =!= col("dst"))
      val next = small.distinct().localCheckpoint(false) // lazy: the fixpoint probe materializes it
      converged = starViolations(next) == 0L
      e = next
      iters += 1
    }
    // at the fixpoint every non-root points straight at its component
    // min; min(dst) keeps labels deterministic mid-contraction too
    val labels = verts
      .join(e.groupBy(col("src").as("nid")).agg(min(col("dst")).as("root")),
        col("id") === col("nid"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("comp"))
    (labels, converged, iters)
  }

  /** Edge-count bound below which a quotient/batch graph is solved in
    * ONE task instead of O(log n) contraction rounds: 5 M canonical
    * edges is ~80 MB of paired longs — comfortable for a single
    * union-find pass, while each contraction ROUND costs a fixed
    * scheduling quantum (job launch + 3 shuffles) that dwarfs the
    * actual work on graphs this small. Above the cap the alternating
    * star contraction takes over unchanged. */
  val SmallGraphEdgeCap = 5000000L

  /** Connected components of a SMALL canonical edge set (src > dst,
    * deduped) in one task: union-find over the coalesced edge iterator
    * via `mapPartitions` — still the distributed API (no driver
    * collect; the task runs wherever the single partition lands), with
    * roots always at the component MINIMUM id so labels are identical
    * to [[connectedComponents]]'s fixpoint (union points the larger
    * root at the smaller, so every tree root is its component's min).
    * Callers gate on [[SmallGraphEdgeCap]] and fall back to the star
    * contraction — see [[incrementalClusters]]. */
  private[graft] def ccSingleTask(canonicalEdges: DataFrame): DataFrame = {
    val spark = canonicalEdges.sparkSession
    import spark.implicits._
    canonicalEdges.select(col("src"), col("dst")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        // Primitive-long open-addressing union-find (r15, advisory): the
        // boxed mutable.HashMap[Long,Long] this replaces carried ~48 B of
        // box/node overhead per entry — 0.5–1 GB at the 10 M-node worst
        // case behind [[SmallGraphEdgeCap]], risking a single-task OOM
        // right where the cap was supposed to make the single-task path
        // safe. Two flat long arrays at ≤2× load are ~32 B/node worst
        // case (~320 MB at 10 M nodes), with no per-entry allocation in
        // the probe loop. Long.MinValue is the empty-slot sentinel — ids
        // here are parquet doc/vec/node ids, never MinValue (guarded).
        var cap = 1 << 16
        var mask = cap - 1
        var keys = Array.fill(cap)(Long.MinValue)
        var vals = new Array[Long](cap)
        var size = 0
        def slot(k: Long): Int = {
          var h = k * -7046029254386353131L // fmix-style spread
          h ^= (h >>> 32)
          var i = h.toInt & mask
          while (keys(i) != Long.MinValue && keys(i) != k) i = (i + 1) & mask
          i
        }
        def grow(): Unit = {
          val ok = keys; val ov = vals
          cap <<= 1; mask = cap - 1
          keys = Array.fill(cap)(Long.MinValue); vals = new Array[Long](cap)
          var j = 0
          while (j < ok.length) {
            if (ok(j) != Long.MinValue) { val i = slot(ok(j)); keys(i) = ok(j); vals(i) = ov(j) }
            j += 1
          }
        }
        def insertIfAbsent(k: Long): Unit = {
          val i = slot(k)
          if (keys(i) == Long.MinValue) {
            keys(i) = k; vals(i) = k; size += 1
            if (size * 2 > cap) grow()
          }
        }
        def get(k: Long): Long = vals(slot(k))
        def put(k: Long, v: Long): Unit = vals(slot(k)) = v // key present
        def find(x: Long): Long = {
          var r = x
          while (get(r) != r) r = get(r)
          var c = x
          while (get(c) != r) { val n = get(c); put(c, r); c = n }
          r
        }
        it.foreach { case (s, d) =>
          require(s != Long.MinValue && d != Long.MinValue,
            "ccSingleTask: Long.MinValue node id collides with the empty sentinel")
          insertIfAbsent(s); insertIfAbsent(d)
          val rs = find(s); val rd = find(d)
          if (rs != rd) { if (rs < rd) put(rd, rs) else put(rs, rd) }
        }
        val out = new Array[(Long, Long)](size)
        var j = 0; var o = 0
        while (j < cap) {
          if (keys(j) != Long.MinValue) { out(o) = (keys(j), find(keys(j))); o += 1 }
          j += 1
        }
        out.iterator
      }
      .toDF("id", "comp")
  }

  /** Persisted near-dup label table — the "compute clusters once, reuse
    * everywhere" production shape: pair generation + star contraction run
    * one time per corpus content-fingerprint and land as a (doc_id,
    * comp_id) parquet table; q61 (cluster listing) and q89 (cluster-safe
    * split) both read it. Built under the [[graft.sources.Artifacts]]
    * contract (source bytes change ⇒ new path ⇒ rebuild; single writer).
    * The build cost shows in a query's COLD rep (BENCH_FULL `cold`);
    * warm reps price the read, which is what a 100 TB deployment pays
    * per downstream consumer; a multi-writer deployment would
    * additionally serialize builders on a lock/manifest service. */
  private[graft] def nearDupLabels(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "neardup_labels", MaxCcIters) {
      val pairs = nearDupJaccardUnordered(spark, dir).select(col("d1"), col("d2"))
      val (labels, _, _) = connectedComponents(pairs.toDF("src", "dst"), MaxCcIters)
      labels.select(col("id").as("doc_id"), col("comp").as("comp_id"))
    }

  def nearDupClusters(spark: SparkSession, dir: String): DataFrame =
    nearDupLabels(spark, dir)
      .withColumn("n_members", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("comp_id")))
      .orderBy("doc_id")

  /** q120 — dedup SURVIVOR selection: turns q61's near-dup clusters into
    * the actionable keep-list — per cluster, the canonical survivor under
    * an explicit total-order policy (most tokens, tie → smallest doc_id:
    * keep the longest member, deterministically) plus the bookkeeping a
    * dedup run reports (member count, token mass kept vs removed). q98's
    * funnel answers "how much survives each stage"; this answers "WHICH
    * doc survives each cluster", which is what the downstream rewrite
    * actually consumes.
    *
    * Scale shape: cluster labels come from the PERSISTED label table
    * ([[nearDupLabels]], built once per corpus fingerprint); token counts
    * ride a doc-keyed equi-join against a key-projected scan; the
    * argmax-per-cluster is ONE comp-keyed aggregate (max(struct) —
    * map-side partial, no window over the corpus), output bounded by the
    * cluster count. */
  def dedupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
    nearDupLabels(spark, dir)
      .join(toks, Seq("doc_id"))
      .groupBy("comp_id")
      .agg(count(lit(1)).as("n_members"),
        sum("n_tokens").as("total_tokens"),
        max(struct(col("n_tokens").as("t"), (lit(0L) - col("doc_id")).as("negid"))).as("s"))
      .select(col("comp_id"), col("n_members"), col("total_tokens"),
        (lit(0L) - col("s.negid")).as("survivor_doc_id"),
        col("s.t").as("survivor_tokens"),
        (col("total_tokens") - col("s.t")).as("tokens_removed"))
      .orderBy("comp_id")
  }

  /** q89 — cluster-aware leakage-safe split: the full-strength version of
    * q82. q82 keys the train/val/test cut on the exact content digest, so
    * byte-identical documents stay together; NEAR-duplicates (j ≥ 0.6)
    * can still straddle splits and leak eval content into training. Here
    * every document in a near-dup cluster ([[nearDupClusters]]'s
    * connected components) is keyed on its CLUSTER ROOT, so whole
    * clusters move as one unit; unclustered documents fall back to
    * exactly q82's content-hash rule (spec-pinned: they receive the SAME
    * split q82 assigns them).
    *
    * Scale shape: cluster labels come from the PERSISTED label table
    * ([[nearDupLabels]] — pair generation + O(log n) star contraction run
    * once per corpus fingerprint; this query's warm cost is a read); the
    * label table is a fraction of the corpus (clustered docs only), so
    * the left join broadcasts in practice and the split itself stays
    * map-side. */
  def clusterSafeSplit(spark: SparkSession, dir: String): DataFrame =
    clusterSplitFrom(spark, dir, nearDupLabels(spark, dir))

  /** The split RULE shared by q89 and q172 (r15): clustered docs hash
    * their component root — one decision per cluster, so members can
    * never straddle a split boundary — and unclustered docs fall back to
    * q82's content-digest hash exactly. `comp` is any (doc_id, comp_id)
    * label table; q89 passes the text closure, q172 the text+media
    * unified closure. */
  private[graft] def clusterSplitFrom(spark: SparkSession, dir: String,
      comp: DataFrame): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("content_md5"))
      .join(comp.select(col("doc_id"), col("comp_id")), Seq("doc_id"), "left")
      .withColumn("hv", when(col("comp_id").isNotNull,
          pmod(col("comp_id") * lit(2654435761L) + lit(17L), lit(100)))
        .otherwise(pmod(conv(substring(col("content_md5"), 1, 8), 16, 10).cast("long"), lit(100))))
      .withColumn("split",
        when(col("hv") < 80, "train").when(col("hv") < 90, "val").otherwise("test"))
      .select("doc_id", "comp_id", "split")
      .orderBy("doc_id")

  /** Diagnostic: the stop-shingles [[nearDupJaccard]]'s df cutoff drops
    * (shingle + its document frequency). Empty on clean corpora.
    * Text-derived (not the digest table): the whole point is showing a
    * human WHICH shingles are hot. */
  def hotShingles(spark: SparkSession, dir: String): DataFrame =
    rawShingles(spark, dir).distinct()
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .where(col("df") > MaxShingleDf)
      .orderBy(col("df").desc, col("sh"))

  /** MinHash parameters: 64 permutations h_i(x) = (a_i*x + b_i) mod P32
    * over 32-bit-reduced shingle hashes, banded 16×4 for LSH.
    * a_i < 2^30 and x < 2^32 keep every product under 2^62 — no long
    * overflow, so the math is safe under Spark 4's default ANSI mode.
    * The mod-P32 reduction is what makes each h_i an actual permutation
    * (without it, min(a_i*x + b_i) is won by the smallest x for EVERY i
    * and the 64-permutation sketch degenerates to a single min-hash whose
    * pairwise estimate is always 0 or 1 — a bug this engine shipped with
    * until round 6, caught by a j≈0.9 pair matching 0/64 positions).
    * Constants come from a fixed LCG: reproducible, no runtime
    * randomness. */
  private val NumPerm = 64
  private val Bands = 16
  private val RowsPerBand = NumPerm / Bands
  /** Largest prime below 2^32 — shingle-hash reduction modulus. */
  private val P32 = 4294967291L
  private def lcgStream(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L).drop(1)
  private val permA: Array[Long] = lcgStream(0x12345678L).map(x => (x >>> 34) | 1L).take(NumPerm).toArray
  private val permB: Array[Long] = lcgStream(0x87654321L).map(_ >>> 34).take(NumPerm).toArray

  /** 64-long MinHash signature per doc over a caller-chosen shingle-hash
    * column, as 64 DECLARATIVE min() aggregates (min((a_i*x + b_i) mod
    * P32) per permutation).
    *
    * This replaced round 1's collect_set + native tight-loop expression:
    * min() is algebraic, so Spark runs a map-side partial aggregate and
    * the shuffle carries 64 longs per (doc × input partition) instead of
    * every distinct shingle hash — the difference between O(corpus
    * tokens) and O(docs) shuffle volume at 100 TB. min is order-free and
    * duplicate-insensitive, so results are bit-identical to the set
    * formulation (oracles q29b/q29c unchanged). The whole update loop is
    * codegen'd multiply-add-min inside HashAggregate. */
  private def signaturesFromHash(sh: DataFrame, hashCol: org.apache.spark.sql.Column): DataFrame = {
    val h = col("h")
    val mins = (0 until NumPerm).map(i => min(pmod(h * permA(i) + permB(i), lit(P32))).as(s"_s$i"))
    sh.select(col("doc_id"), hashCol.as("h"))
      .groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until NumPerm).map(i => col(s"_s$i")): _*).as("sig"))
  }

  /** Production signatures: xxhash64 shingle hashes (fast, not
    * SQL-portable). rawShingles: collect_set dedups per doc anyway, so
    * the global distinct() exchange the Jaccard path needs would be a
    * wasted shuffle. */
  private def signatures(spark: SparkSession, dir: String): DataFrame =
    signaturesFromHash(rawShingles(spark, dir), pmod(xxhash64(col("sh")), lit(P32)))

  /** Oracle-portable shingle hash: the first 8 hex chars of md5
    * (reproducible in DuckDB). */
  private val portableShingleHash = "CAST(conv(substr(md5(sh), 1, 8), 16, 10) AS BIGINT)"

  /** Oracle-portable signatures for the CORPUS: hash values derived from
    * the persisted [[shingleDigests]] table — `conv(substr(hex(gh),1,8))`
    * equals `conv(substr(md5(sh),1,8))` by construction (the digest IS
    * md5(sh); conv is case-insensitive), so signatures are bit-identical
    * to the text-derived path and the q29b/q29c oracles are unchanged.
    * min() is duplicate-insensitive, so the table's per-doc distinct is
    * as good as raw multiplicity. Batch/streaming forms
    * ([[portableSignaturesOf]]) stay text-derived: an arbitrary batch has
    * no artifact. */
  private def portableSignatures(spark: SparkSession, dir: String): DataFrame =
    signaturesFromHash(
      shingleDigests(spark, dir).select(col("doc_id"), col("gh").as("sh")),
      expr("CAST(conv(substr(hex(sh), 1, 8), 16, 10) AS BIGINT)"))

  private def portableSignaturesOf(docs: DataFrame): DataFrame =
    signaturesFromHash(rawShinglesOf(docs), expr(portableShingleHash))

  /** (doc_id, sig, band_idx, band_key) — the 16×4 polynomial band fold of
    * a signature table (shared by the all-pairs LSH path and the
    * incremental index). */
  private def bandKeysOf(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("sig"),
      posexplode(expr(
        s"transform(sequence(0, ${Bands - 1}), b -> aggregate(slice(sig, b*$RowsPerBand + 1, $RowsPerBand), 0L, (acc, x) -> (acc * 1000003L + pmod(x, 1000000007L)) % 1000000007L))"
      )).as(Seq("band_idx", "band_key")))

  /** LSH banding + bucket-capped pair expansion + signature-estimated
    * Jaccard, shared by the production and oracle-portable paths.
    *
    * Bands hashed with a polynomial fold mod 1e9+7; docs sharing any band
    * bucket become candidates; estimate = matching signature positions /
    * 64. The signature pipeline runs ONCE, one shuffle on the band key,
    * and the O(k²) pair blow-up stays confined to each bucket's member
    * list — capped at [[MaxBucket]] members (the smallest doc_ids;
    * array_sort gives canonical d1 < d2 pairs). The capped overflow is
    * surfaced as an `observe` metric (`overflow_members_dropped`) so a
    * duplicate-heavy corpus is visible instead of a straggler task. */
  private def lshPairsFromSignatures(sig: DataFrame, obsName: String): DataFrame = {
    Diagnostics.install(sig.sparkSession) // overflow metric lands in Diagnostics
    val banded = bandKeysOf(sig)
    val buckets = banded
      .groupBy(col("band_idx"), col("band_key"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("sig")))).as("all_members"))
      .where(size(col("all_members")) >= 2)
      .withColumn("members", slice(col("all_members"), 1, MaxBucket))
      .observe(obsName,
        sum(greatest(size(col("all_members")) - MaxBucket, lit(0))).as("overflow_members_dropped"),
        count(lit(1)).as("n_buckets"))
    buckets
      .select(explode(expr(
        """flatten(transform(members, (x, i) ->
          |  transform(slice(members, i + 2, size(members)), y ->
          |    named_struct('d1', x.doc_id, 'sig1', x.sig, 'd2', y.doc_id, 'sig2', y.sig))))""".stripMargin)).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"), col("p.sig1").as("sig1"), col("p.sig2").as("sig2"))
      // estimate + threshold BEFORE the cross-band dedup: a duplicate
      // candidate's est is identical in every band, so filtering first is
      // result-identical while the distinct's shuffle carries 24-byte
      // (d1,d2,est) survivors instead of ~1 KB of signature payload per
      // candidate — the q34b prefilter-before-distinct trick. The
      // signature-agreement count itself is the native codegen'd
      // [[graft.functions.LongVecEqCount]] (bit-identical to the HOF
      // formulation); both landed after the clean-corpus 8x probe showed
      // q29 at 15.7x with ~10.8M capped candidates.
      .select(col("d1"), col("d2"),
        round(org.apache.spark.sql.graft.ColumnBridge.of(graft.functions.LongVecEqCount(
            org.apache.spark.sql.graft.ColumnBridge.expr(col("sig1")),
            org.apache.spark.sql.graft.ColumnBridge.expr(col("sig2")))).cast("double") / NumPerm, 6)
          .as("est_jaccard"))
      .where(col("est_jaccard") >= 0.5)
      .distinct() // the same pair can collide in several bands
      .orderBy("d1", "d2")
  }

  /** MinHash-LSH candidate pairs (production: xxhash64 hashes; gated via
    * [[minhashLshAgreement]]'s error-band contract — ScalaTest additionally
    * asserts recall against [[nearDupJaccard]] and agreement with
    * [[minhashLshPairsPortable]]'s logic).
    *
    * PERSISTED per corpus fingerprint (r14, the round-13 verdict's top
    * task): the portable twin has read its survivor-pair artifact since
    * round 7 while this production leg re-ran the full xxhash signature
    * build per call — the single most expensive recurring cost on the
    * bench (q29's audit runs it every time). Same contract as
    * [[lshPairsTable]]: the build pass carries the `q29_lsh_buckets`
    * overflow metric (where the cap drop actually happens), and the
    * ScalaTest recall/parity assertions re-gate the artifact's content
    * every suite run. */
  def minhashLshPairs(spark: SparkSession, dir: String): DataFrame =
    xxLshPairsTable(spark, dir).orderBy("d1", "d2")

  /** The persisted xxhash survivor-pair artifact (production twin of
    * [[lshPairsTable]]). */
  private[graft] def xxLshPairsTable(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "lsh_pairs_xx", NumPerm * 1000 + MaxBucket)(
      lshPairsFromSignatures(signatures(spark, dir), "q29_lsh_buckets"))

  /** q29's BAND-GATE (r13): the xxhash64 production LSH path emits hashes
    * DuckDB cannot reproduce, so for 11 rounds q29 carried a rows-only
    * check. This audit turns the two invariants its ScalaTest always
    * asserted into an oracle-gated single-row contract:
    *
    *  - `recall_ok` — every exact-Jaccard ≥ 0.9 pair ([[nearDupJaccard]],
    *    itself hash-gated as q28) is found by the xxhash LSH path. Theory:
    *    16 bands × 4 rows miss a j ≥ 0.9 pair with prob (1−j⁴)¹⁶ ≈ 1e-8.
    *  - `parity_ok` — the xxhash survivor-pair SET agrees with the
    *    hash-gated portable twin's ([[minhashLshPairsPortable]], q29c) at
    *    set-Jaccard ≥ 0.95 (observed: identical at both test SFs; the band
    *    absorbs borderline est_jaccard cuts under a different hash family).
    *
    * The oracle reproduces `n_high_jaccard` (exact shingle Jaccard) and
    * `n_portable_pairs` (the full q29c DuckDB derivation) and pins both
    * verdicts literal TRUE. All four crossJoins below are 1-row audit
    * scalars (PlanGuard-allowlisted with that bound). */
  def minhashLshAgreement(spark: SparkSession, dir: String): DataFrame = {
    val truth = nearDupJaccard(spark, dir).where(col("jaccard") >= 0.9).select("d1", "d2")
    val xx = minhashLshPairs(spark, dir).select("d1", "d2")
    val pt = lshPairsTable(spark, dir).select("d1", "d2")
    val nTruth = truth.agg(count(lit(1)).as("n_high_jaccard"))
    val nPt = pt.agg(count(lit(1)).as("n_portable_pairs"))
    val missed = truth.join(xx, Seq("d1", "d2"), "left_anti")
      .agg(count(lit(1)).as("n_missed"))
    val inter = xx.join(pt, Seq("d1", "d2"), "left_semi")
      .agg(count(lit(1)).as("n_inter"))
    val uni = xx.union(pt).distinct().agg(count(lit(1)).as("n_union"))
    nTruth.crossJoin(nPt).crossJoin(missed).crossJoin(inter).crossJoin(uni)
      .select(col("n_high_jaccard"), col("n_portable_pairs"),
        (col("n_missed") === 0L).as("recall_ok"),
        (col("n_inter") * 1000 >= col("n_union") * 950).as("parity_ok"))
  }

  /** Oracle-checked MinHash-LSH end-to-end: same banding, bucket cap, and
    * estimate as [[minhashLshPairs]], over md5-portable shingle hashes —
    * the whole LSH path (signatures → bands → capped buckets → pairs →
    * estimate → threshold) is reproduced in DuckDB SQL.
    *
    * PERSISTED per corpus fingerprint like the span digests and cluster
    * labels: the candidate-pair set is the expensive shared artifact
    * three consumers re-derived independently (q29c itself, q99's
    * calibration audit, q100's SQL view) — now the signature+banding
    * pipeline runs once per corpus content and everyone reads the (tiny)
    * survivor table. The DuckDB oracle still re-derives the whole path
    * from scratch every round, so the artifact's correctness is
    * re-gated on every verify run, not frozen at build time. The
    * overflow observe metric fires on the build pass (where the drop
    * happens) — true of the xxhash production twin too since r14
    * ([[xxLshPairsTable]]). Built under the [[graft.sources.Artifacts]]
    * contract. */
  def minhashLshPairsPortable(spark: SparkSession, dir: String): DataFrame =
    lshPairsTable(spark, dir).orderBy("d1", "d2")

  /** The persisted survivor-pair artifact, read WITHOUT q29c's
    * presentation sort — the composition form ([[minhashCalibration]]
    * re-aggregates the pairs; q100's view joins them) must not pay a
    * range exchange of the pair set first. */
  private[graft] def lshPairsTable(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "lsh_pairs", NumPerm * 1000 + MaxBucket)(
      lshPairsFromSignatures(portableSignatures(spark, dir), "q29c_lsh_buckets"))

  /** In-slice pairs below this exact-Jaccard permille are not audit
    * subjects ([[lshRecallAudit]]): far-below-threshold pairs are
    * SUPPOSED to be missed by the banding, so counting them as misses
    * would bury the signal. */
  val RecallAuditMinPermille = 100L

  /** q121 — LSH RECALL audit: the false-negative complement of q99.
    * q99 bounds the estimator's ERROR on the pairs the banding FOUND;
    * nothing audited what it MISSED — the failure mode that silently
    * erodes dedup quality at scale (bucket caps, band collisions, and
    * the df cutoff all trade recall for bound work). On a constant-size
    * deterministic document slice (q34's modulus trick:
    * `doc_id % ceil(n/[[Similarity.AuditRows]]) = 0`), EXACT Jaccard is
    * computed for every in-slice pair over the distinct raw shingle
    * sets (q99's ground-truth representation — no df cutoff), and each
    * pair ≥ [[RecallAuditMinPermille]] is classified against the
    * persisted LSH candidate set. The report per 100-permille
    * similarity band: pair count, found, missed, miss rate — the
    * number that justifies (or indicts) the banding config at 100 TB,
    * where the exact join corpus-wide is not an option.
    *
    * Scale shape: the slice is ~[[Similarity.AuditRows]] docs at ANY
    * corpus size, so the exact pair work is O(AuditRows²) constant; the
    * slice's shingles probe the persisted digest table with one pushed
    * `pmod` filter; the candidate check is an equi-join of a
    * constant-size pair set against the persisted pair artifact. */
  def lshRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.documents(spark, dir).count()
    val m = Similarity.auditModulus(n)
    val sl = shingleDigests(spark, dir).where(pmod(col("doc_id"), lit(m)) === 0)
    val sizes = sl.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = sl.as("a").join(sl.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    val pairs = inter
      .join(sizes.select(col("doc_id").as("d1"), col("n_sh").as("n1")), Seq("d1"))
      .join(sizes.select(col("doc_id").as("d2"), col("n_sh").as("n2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        expr("(1000L * inter) div (n1 + n2 - inter)").as("exact_permille"))
      .where(col("exact_permille") >= RecallAuditMinPermille)
    val cand = lshPairsTable(spark, dir).select(col("d1"), col("d2"), lit(1L).as("found"))
    pairs.join(cand, Seq("d1", "d2"), "left")
      .select(expr("exact_permille div 100 * 100").as("band_lo_permille"),
        coalesce(col("found"), lit(0L)).as("found"))
      .groupBy("band_lo_permille")
      .agg(count(lit(1)).as("n_pairs"), sum("found").as("n_found"))
      .withColumn("n_missed", col("n_pairs") - col("n_found"))
      .withColumn("miss_permille", expr("(1000L * n_missed) div n_pairs"))
      .orderBy("band_lo_permille")
  }

  /** Oracle-checkable MinHash signatures: the portable signatures
    * exploded to one row per (doc, permutation). Proves the signature
    * arithmetic cross-engine; [[minhashLshPairsPortable]] extends the
    * check through banding and pair expansion. */
  def minhashSignaturesPortable(spark: SparkSession, dir: String): DataFrame =
    portableSignatures(spark, dir)
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("pos", "sig_value")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("perm_idx"), col("sig_value"))
      .orderBy("doc_id", "perm_idx")

  /** The permutation constants, rendered as engine literals for the
    * DuckDB oracle. */
  def permALiteral: String = permA.mkString("[", ", ", "]")
  def permBLiteral: String = permB.mkString("[", ", ", "]")

  // ------------------------------------------------------------------
  // q72 — INCREMENTAL near-dup dedup: a PERSISTED LSH band-bucket index
  // makes near-dup detection incremental the way q68 made exact dedup
  // incremental. The corpus's (band_idx, band_key) → member rows live as
  // a parquet table BUCKETED on the band key; the daily batch computes
  // its own signatures, probes the index with one equi-join that
  // shuffles ONLY the batch (the index side reads pre-hash-distributed —
  // no Exchange), and verdicts come from the signature-estimated
  // Jaccard. After the verdicts, [[appendNovelBatchBuckets]] appends the
  // batch's previously-unseen buckets so tomorrow's batch probes an
  // up-to-date index — the full index is never rebuilt, and the append
  // preserves the bucketed layout.
  // ------------------------------------------------------------------

  private val IndexDb = "graft_lsh"
  private val batchPredicate = pmod(col("doc_id"), lit(10)) === 9

  /** One-time build of the corpus band-bucket index (corpus = the q68
    * split's non-batch docs). One row per (band_idx, band_key, doc_id)
    * with the member's full signature inlined so probe-side verification
    * is local to the join. Buckets keep their [[MaxBucket]] smallest
    * doc_ids (the q29c cap — bounds any probe row's fanout). A
    * [[graft.sources.Artifacts.bucketedTables]] table. */
  private def indexBuckets(spark: SparkSession, dir: String): Int =
    Tables.partsFor(spark, dir, Seq("documents"), graft.sources.Bucketing.TargetBucketBytes)

  def ensureLshBandIndex(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.expressions.Window
    def bands = bandKeysOf(portableSignaturesOf(Tables.documents(spark, dir).where(!batchPredicate)))
      .withColumn("rn", row_number().over(
        Window.partitionBy("band_idx", "band_key").orderBy("doc_id")))
      .where(col("rn") <= MaxBucket).drop("rn")
    Artifacts.bucketedTables(spark, IndexDb, dir, Seq("documents"), indexBuckets(spark, dir))(
      ("lsh_bands", Seq("band_idx", "band_key"), () => bands)).head
  }

  /** Probe-side candidates: batch band rows equi-joined against the
    * persisted index on the bucket key. The merge hint pins sort-merge so
    * the plan demonstrates the layout: the index scan arrives
    * pre-distributed (no Exchange on its side), the batch is the only
    * side that shuffles — at 100 TB the daily batch is ≪ the corpus, so
    * this is the whole point of persisting the index. est + threshold
    * run BEFORE the cross-band distinct (q29c's prefilter trick). */
  private[graft] def incrementalNearDupCandidates(spark: SparkSession, dir: String): DataFrame =
    incrementalNearDupCandidatesOf(spark, dir,
      Tables.documents(spark, dir).where(batchPredicate))

  /** The probe for an ARBITRARY batch of documents (doc_id, text) —
    * shared by q72 and its streaming twin (each micro-batch probes the
    * same persisted index via foreachBatch). */
  private[graft] def incrementalNearDupCandidatesOf(spark: SparkSession, dir: String,
      batch: DataFrame): DataFrame =
    incrementalNearDupCandidatesFromSigs(spark, dir, portableSignaturesOf(batch))

  /** The q68-split batch's probe via the PERSISTED digest table instead
    * of re-tokenizing raw text — bit-identical signatures (the
    * [[portableSignatures]] md5-injectivity argument applied to the
    * batch split); q149's steady-state probe path. Arbitrary batches
    * (streaming twin) keep the text-derived form above. */
  private[graft] def incrementalNearDupCandidatesFromDigests(spark: SparkSession,
      dir: String): DataFrame =
    incrementalNearDupCandidatesFromSigs(spark, dir,
      signaturesFromHash(
        shingleDigests(spark, dir).where(batchPredicate).select(col("doc_id"), col("gh").as("sh")),
        expr("CAST(conv(substr(hex(sh), 1, 8), 16, 10) AS BIGINT)")))

  private def incrementalNearDupCandidatesFromSigs(spark: SparkSession, dir: String,
      probeSigs: DataFrame): DataFrame = {
    val idx = spark.table(ensureLshBandIndex(spark, dir))
      .select(col("band_idx"), col("band_key"), col("doc_id").as("cd"), col("sig").as("csig"))
    val probe = bandKeysOf(probeSigs)
      .select(col("band_idx"), col("band_key"), col("doc_id").as("bd"), col("sig").as("bsig"))
    probe.join(idx.hint("merge"), Seq("band_idx", "band_key"))
      .where(col("bd") =!= col("cd")) // no-op on the q68 split; guards a post-append re-probe
      .select(col("bd"), col("cd"),
        round(org.apache.spark.sql.graft.ColumnBridge.of(graft.functions.LongVecEqCount(
            org.apache.spark.sql.graft.ColumnBridge.expr(col("bsig")),
            org.apache.spark.sql.graft.ColumnBridge.expr(col("csig")))).cast("double") / NumPerm, 6)
          .as("est_jaccard"))
      .where(col("est_jaccard") >= 0.5)
      .distinct()
  }

  /** q72 — per-batch-document near-dup verdicts against the persisted
    * index: `dup` with the best-estimate corpus match (ties: smallest
    * doc_id), or `new`. Batch docs too short to shingle are `new`. */
  def incrementalNearDup(spark: SparkSession, dir: String): DataFrame =
    incrementalNearDupOf(spark, dir, Tables.documents(spark, dir).where(batchPredicate))

  /** Verdicts for an arbitrary batch (doc_id, text) against the persisted
    * index — the kernel [[incrementalNearDup]] and the streaming twin
    * ([[graft.streaming.StreamingAnalytics.nearDupVerdictsPerBatch]])
    * share. */
  def incrementalNearDupOf(spark: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val best = incrementalNearDupCandidatesOf(spark, dir, batch)
      .withColumn("rk", row_number().over(
        Window.partitionBy("bd").orderBy(col("est_jaccard").desc, col("cd").asc)))
      .where(col("rk") === 1)
    batch
      .select(col("doc_id"))
      .join(best, col("doc_id") === col("bd"), "left")
      .select(col("doc_id"),
        when(col("cd").isNull, lit("new")).otherwise(lit("dup")).as("status"),
        col("cd").as("dup_of"),
        col("est_jaccard"))
      .orderBy("doc_id")
  }

  /** Corpus-split portable LSH survivor pairs — the pair graph the
    * existing cluster state ([[corpusClusterLabels]]) is built over.
    * Restriction happens BEFORE banding (caps computed within the
    * corpus split), so this is exactly "the pair table the corpus had
    * before the increment arrived", not a post-hoc filter of the
    * whole-corpus pairs (whose caps would have seen batch members). */
  private[graft] def corpusLshPairsTable(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "lsh_pairs_corpus", NumPerm * 1000 + MaxBucket + 9)(
      lshPairsFromSignatures(
        signaturesFromHash(
          shingleDigests(spark, dir)
            .where(pmod(col("doc_id"), lit(10)) =!= 9)
            .select(col("doc_id"), col("gh").as("sh")),
          expr("CAST(conv(substr(hex(sh), 1, 8), 16, 10) AS BIGINT)")),
        "q149_corpus_buckets"))

  /** The corpus split's cluster-label table (doc_id, comp_id) — the
    * durable state q149 maintains incrementally, built under the
    * [[graft.sources.Artifacts]] contract. */
  private[graft] def corpusClusterLabels(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "cluster_labels_corpus", MaxCcIters + 149) {
      val (labels, _, _) = connectedComponents(
        corpusLshPairsTable(spark, dir).select(col("d1"), col("d2")).toDF("src", "dst"),
        MaxCcIters)
      labels.select(col("id").as("doc_id"), col("comp").as("comp_id"))
    }

  /** q149 — INCREMENTAL cluster MAINTENANCE: fold a crawl increment's
    * near-dup probe edges into the PERSISTED corpus cluster labels
    * WITHOUT re-running connected components over the corpus pair
    * graph — the operation that keeps q61-style cluster state alive on
    * a growing 100 TB corpus, where from-scratch CC per increment is
    * unpayable. The batch's q72 probe edges (batch doc ↔ corpus doc,
    * est ≥ 0.5 — batch docs never pair each other, q72's contract) are
    * lifted to the QUOTIENT graph whose nodes are existing component
    * ids plus batch/unlabeled doc ids; star contraction runs on THAT
    * graph — O(batch) nodes, O(log batch) rounds — and the result
    * relabels only the touched components. A batch doc bridging two
    * existing clusters merges them (the case per-doc verdicts can't
    * express); labels of untouched clusters pass through unchanged.
    *
    * CORRECTNESS IS THE GATE: the DuckDB oracle computes the clusters
    * FROM SCRATCH (recursive closure over corpus pairs ∪ probe edges),
    * so the hash gate IS the incremental-equals-batch proof. The
    * quotient argument: every corpus component's label is its member
    * minimum, so the quotient component's minimum node id equals the
    * merged component's true member minimum.
    *
    * Label maintenance is a PER-INCREMENT batch job, not a per-record
    * stream: two increment docs may bridge the same components, so
    * micro-batch slices of the merge would not compose (unlike the
    * verdict probes, which stream via q72's twin); a deployment
    * refreshes the label table once per ingested increment.
    *
    * Scale shape: the corpus-sized inputs are two persisted reads
    * (labels + capped band index); the batch is the only side that
    * shuffles; the contraction input is bounded by the batch's edge
    * count; the relabel is one broadcast-sized join against the label
    * table. */
  def incrementalClusters(spark: SparkSession, dir: String): DataFrame = {
    val labels = corpusClusterLabels(spark, dir)
    // the probe is the one expensive leg and THREE consumers reference
    // it (quotient edges, unlabeled-doc sweep, and the contraction's
    // own vertex derivation) — materialize it once; it is bounded by
    // the batch's edge count, the same budget the contraction carries
    val bc = incrementalNearDupCandidatesFromDigests(spark, dir)
      .select(col("bd"), col("cd"))
      .localCheckpoint(true)
    // lift probe edges to the quotient graph: a labeled corpus doc is
    // represented by its component id, an unlabeled one by itself
    val e = bc.join(labels.withColumnRenamed("doc_id", "cd"), Seq("cd"), "left")
      .select(col("bd").as("src"), coalesce(col("comp_id"), col("cd")).as("dst"))
    // quotient graphs are batch-bounded by construction, so nearly every
    // increment fits [[SmallGraphEdgeCap]] and folds in ONE task — each
    // contraction ROUND costs a fixed scheduling quantum that dominated
    // this query's warm cost (driver r14: 2.9 s, ~80% contraction
    // rounds). The count rides the already-materialized checkpoint; an
    // over-cap increment takes the O(log n) star contraction unchanged.
    val eCanon = e.where(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct().localCheckpoint(true)
    val qlabels =
      (if (eCanon.count() <= SmallGraphEdgeCap) ccSingleTask(eCanon)
       else connectedComponents(eCanon, MaxCcIters)._1)
        .localCheckpoint(true)
    val remap = qlabels.select(col("id").as("comp_id"), col("comp").as("new_comp"))
    val corpusOut = labels.join(broadcast(remap), Seq("comp_id"), "left")
      .select(col("doc_id"), coalesce(col("new_comp"), col("comp_id")).as("comp_id"))
    val unlabeledOut = bc.select(col("cd")).distinct()
      .join(labels.withColumnRenamed("doc_id", "cd"), Seq("cd"), "left_anti")
      .join(broadcast(remap), col("cd") === remap("comp_id"))
      .select(col("cd").as("doc_id"), col("new_comp").as("comp_id"))
    val batchOut = qlabels.where(pmod(col("id"), lit(10)) === 9)
      .select(col("id").as("doc_id"), col("comp").as("comp_id"))
    corpusOut.unionByName(unlabeledOut).unionByName(batchOut)
      .select(col("doc_id"), col("comp_id"),
        (pmod(col("doc_id"), lit(10)) === 9).as("is_batch"))
      .orderBy("doc_id")
  }

  /** Incremental index maintenance: append the batch's band buckets whose
    * keys the index has never seen (left-anti on the bucket key), capped
    * like the build. Append-only — the corpus index is never rebuilt —
    * and `saveAsTable(Append)` with the matching bucket spec preserves
    * the bucketed layout, so the next probe is still Exchange-free on
    * the index side. Returns the number of rows appended (0 on a second
    * call with the same batch: the keys are no longer novel). */
  def appendNovelBatchBuckets(spark: SparkSession, dir: String): Long =
    appendNovelBatchBucketsOf(spark, dir,
      Tables.documents(spark, dir).where(batchPredicate))

  /** [[appendNovelBatchBuckets]] for an ARBITRARY batch of documents
    * (doc_id, text) — the maintenance half the streaming twin runs per
    * micro-batch ([[graft.streaming.StreamingAnalytics.nearDupProbeAndAppendPerBatch]]).
    * Idempotent per content: a replayed micro-batch (foreachBatch is
    * at-least-once on crash recovery) finds its keys no longer novel and
    * appends nothing — which is what makes restart-safety free here. */
  def appendNovelBatchBucketsOf(spark: SparkSession, dir: String, batch: DataFrame): Long = {
    import org.apache.spark.sql.expressions.Window
    val table = ensureLshBandIndex(spark, dir)
    // `batch` may belong to a foreachBatch CLONED session: its write
    // refreshes only the CLONE's relation cache, so without an explicit
    // refresh the caller session keeps a stale file listing — appends
    // land on disk but stay invisible here, and the next micro-batch's
    // left-anti re-treats already-appended keys as novel. Refresh BEFORE
    // the novelty read (see appends by earlier micro-batches) and after
    // the write (make this append visible to the caller's next read).
    spark.catalog.refreshTable(table)
    val novel = bandKeysOf(portableSignaturesOf(batch))
      .join(spark.table(table).select("band_idx", "band_key"),
        Seq("band_idx", "band_key"), "left_anti")
      .withColumn("rn", row_number().over(
        Window.partitionBy("band_idx", "band_key").orderBy("doc_id")))
      .where(col("rn") <= MaxBucket).drop("rn")
      .select(col("doc_id"), col("sig"), col("band_idx"), col("band_key"))
      .localCheckpoint(true) // one computation: counted AND appended
    val n = novel.count()
    if (n > 0) {
      val numBuckets = indexBuckets(spark, dir)
      novel.repartition(numBuckets, col("band_idx"), col("band_key"))
        .write.mode("append").format("parquet")
        .bucketBy(numBuckets, "band_idx", "band_key")
        .sortBy("band_idx", "band_key")
        .saveAsTable(table)
      spark.catalog.refreshTable(table) // caller-session visibility (clone writes)
    }
    n
  }

  /** 64-bit SimHash per document, emitted as a 16-hex-digit string.
    *
    * Portable construction (identical arithmetic exists in the DuckDB
    * oracle): per token take md5 hex; each of the 16 hex digits carries 4
    * signature bits; a bit is 1 iff the sum over tokens of ±1 (bit set /
    * unset) is >= 0. Token multiplicity counts (true SimHash weighting).
    */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashUnordered(spark, dir).orderBy("doc_id")

  /** [[simhash]] without the presentation sort — the form pipelines
    * compose ([[simhashNearPairs]]): the q30 output contract orders by
    * doc_id, but a consumer that immediately re-shuffles (band groupBy)
    * must not pay a full range exchange for cosmetic order first. */
  private def simhashUnordered(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        ColumnBridge.of(Simhash64(ColumnBridge.expr(split(col("text"), "\\s+")))).as("simhash"))

  /** Hamming-near SimHash pairs: block the 16 hex digits into 4 bands of
    * 4 digits; candidates share a band (pigeonhole: any pair within
    * Hamming distance 3 bits-per-band-boundary shares one); verify by
    * exact bit Hamming distance <= 6 of 64. Buckets capped at
    * [[MaxBucket]] like the MinHash path (mirrored in the oracle). */
  def simhashNearPairs(spark: SparkSession, dir: String): DataFrame = {
    Diagnostics.install(spark)
    val sh = simhashUnordered(spark, dir)
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(expr("transform(sequence(0, 3), b -> substr(simhash, b*4 + 1, 4))")).as(Seq("band_idx", "band_val")))
    // native codegen'd hex-Hamming (bit-identical to the instr/bit_count
    // HOF the oracle runs — integer math, nothing to diverge)
    val hamming = ColumnBridge.of(graft.functions.HexHamming64(
      ColumnBridge.expr(col("h1")), ColumnBridge.expr(col("h2"))))
    // bucket-local pair expansion (see lshPairsFromSignatures): one pass
    // over the simhash pipeline, pairs canonically d1 < d2 via array_sort,
    // buckets capped with the overflow observed
    val buckets = banded
      .groupBy(col("band_idx"), col("band_val"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("simhash")))).as("all_members"))
      .where(size(col("all_members")) >= 2)
      .withColumn("members", slice(col("all_members"), 1, MaxBucket))
      .observe("q31_simhash_buckets",
        sum(greatest(size(col("all_members")) - MaxBucket, lit(0))).as("overflow_members_dropped"))
    buckets
      .select(explode(expr(
        """flatten(transform(members, (x, i) ->
          |  transform(slice(members, i + 2, size(members)), y ->
          |    named_struct('d1', x.doc_id, 'h1', x.simhash, 'd2', y.doc_id, 'h2', y.simhash))))""".stripMargin)).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"), col("p.h1").as("h1"), col("p.h2").as("h2"))
      // verify + threshold BEFORE the cross-band dedup (identical result:
      // a duplicate candidate's hamming is the same in every band) so the
      // distinct only shuffles surviving near-pairs
      .select(col("d1"), col("d2"), hamming.cast("long").as("hamming"))
      .where(col("hamming") <= 6)
      .distinct()
      .orderBy("d1", "d2")
  }

  /** Span-screen cutoff for [[dedupFunnel]]'s final stage: documents
    * whose cross-document repeated-8-token-span coverage
    * ([[TextAnalysis.spanCoverage]]) reaches this permille are dropped —
    * mostly-boilerplate documents that survived document-level dedup. */
  val SpanScreenPermille = 500

  /** q98 — dedup FUNNEL: the stage-by-stage survival report a curation
    * pipeline publishes with every corpus release — how many documents
    * and tokens survive raw → exact dedup ([[exactDedup]]'s min-doc_id
    * keeper rule) → near-dup clustering (cluster root only, from the
    * persisted [[nearDupLabels]] table) → span screen (cross-doc
    * repeated-span coverage < [[SpanScreenPermille]]). Stages nest: each
    * keeps a subset of the previous (exact duplicates share a cluster
    * with their keeper, so the cluster root IS an exact keeper), making
    * the four rows a true funnel.
    *
    * Scale shape: ONE pass over `documents` computes per-doc tokens +
    * digest; the three keep-flags come from (a) a min-per-digest
    * aggregate joined back on the 16-byte digest, (b) the persisted
    * cluster-label table (a left-join against a table that is a small
    * fraction of the corpus — broadcastable in practice), (c) the span
    * screen's linear posting-list aggregation (no pairwise expansion,
    * [[TextAnalysis.spanCoverage]]). All four stage aggregates fold into
    * a SINGLE map-side-combinable aggregation over the flagged rows
    * (8 sums, one 1-row result), then explode to the 4 report rows — no
    * window, no driver-side data, no repeated corpus scans per stage. */
  def dedupFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"),
      size(split(col("text"), "\\s+")).cast("long").as("n_toks"),
      md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("content_md5"))
    val exactKeep = docs.groupBy(col("content_md5")).agg(min(col("doc_id")).as("keep_id"))
    val labels = nearDupLabels(spark, dir)
    val spans = TextAnalysis.spanCoverage(spark, dir).select(col("doc_id"), col("rep_permille"))
    val flags = docs
      .join(exactKeep, Seq("content_md5"))
      .join(labels, Seq("doc_id"), "left")
      .join(spans, Seq("doc_id"), "left")
      .select(col("n_toks"),
        (col("doc_id") === col("keep_id")).as("s2"),
        (col("doc_id") === col("keep_id") &&
          (col("comp_id").isNull || col("comp_id") === col("doc_id"))).as("s3"),
        // docs shorter than 8 tokens have no spans → pass the screen
        coalesce(col("rep_permille") < SpanScreenPermille, lit(true)).as("spanOk"))
      .withColumn("s4", col("s3") && col("spanOk"))
    val a = flags.agg(
      count(lit(1)).as("d1"), sum(col("n_toks")).as("t1"),
      sum(when(col("s2"), 1L).otherwise(0L)).as("d2"),
      sum(when(col("s2"), col("n_toks")).otherwise(0L)).as("t2"),
      sum(when(col("s3"), 1L).otherwise(0L)).as("d3"),
      sum(when(col("s3"), col("n_toks")).otherwise(0L)).as("t3"),
      sum(when(col("s4"), 1L).otherwise(0L)).as("d4"),
      sum(when(col("s4"), col("n_toks")).otherwise(0L)).as("t4"))
    a.select(explode(expr(
      """array(
        |  named_struct('stage_ord', 1, 'stage', 'raw',
        |    'n_docs', d1, 'n_tokens', t1, 'retained_docs_permille', d1 * 1000 div nullif(d1, 0)),
        |  named_struct('stage_ord', 2, 'stage', 'exact',
        |    'n_docs', d2, 'n_tokens', t2, 'retained_docs_permille', d2 * 1000 div nullif(d1, 0)),
        |  named_struct('stage_ord', 3, 'stage', 'near_dup',
        |    'n_docs', d3, 'n_tokens', t3, 'retained_docs_permille', d3 * 1000 div nullif(d1, 0)),
        |  named_struct('stage_ord', 4, 'stage', 'span_screen',
        |    'n_docs', d4, 'n_tokens', t4, 'retained_docs_permille', d4 * 1000 div nullif(d1, 0)))""".stripMargin)).as("r"))
      .select(col("r.*"))
      .orderBy("stage_ord")
  }

  /** q99 — MinHash estimator CALIBRATION audit: for every candidate pair
    * the portable LSH path emits ([[minhashLshPairsPortable]], estimate
    * ≥ 0.5), recompute the EXACT Jaccard over the distinct raw shingle
    * sets (the quantity the 64-permutation sketch estimates — NO df
    * cutoff here, unlike [[nearDupJaccard]]'s filtered representation)
    * and report the |estimate − exact| error distribution in 50-permille
    * bands. This is the audit that justifies trusting the sketch at
    * 100 TB, where running the exact join corpus-wide is not an option:
    * the error histogram over the (small) candidate set bounds the
    * estimator's bias where it matters — at the decision threshold.
    *
    * All arithmetic is integer-exact end-to-end: the estimate is
    * recovered as its matching-position count (est · 64 is exact — the
    * stored estimate is k/64, a dyadic rational with ≤ 6 decimals),
    * both sides become permille via BIGINT `div`, and the band is a
    * permille floor — nothing floating-point reaches the output, so the
    * report is hash-portable.
    *
    * Scale shape: the candidate pairs are the tiny side (LSH survivors)
    * and broadcast onto the shingle table; the intersection count
    * shuffles only shingles of candidate docs, keyed (doc, shingle); set
    * sizes are a map-side-combinable count joined back. Cost is
    * O(shingles of candidate docs), never all-pairs. */
  def minhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    // the pair set feeds THREE consumers (candidate-doc filter,
    // intersection join, final estimate join); since round 7 the pairs
    // are a persisted parquet artifact ([[minhashLshPairsPortable]]), so
    // each consumer is a cheap re-scan of the tiny survivor table — the
    // localCheckpoint that used to stop the signature pipeline replaying
    // is dead weight now
    val p = lshPairsTable(spark, dir)
      .select(col("d1"), col("d2"), round(col("est_jaccard") * 64).cast("long").as("matches"))
    // confine the exact-set work to candidate docs BEFORE any (doc,
    // shingle) shuffle: the broadcast semi-join prunes the corpus-wide
    // shingle table at the scan, so the intersection join and the size
    // aggregate shuffle O(shingles of candidate docs), not O(corpus)
    val candDocs = p.select(col("d1").as("doc_id"))
      .union(p.select(col("d2").as("doc_id"))).distinct()
    val sh = shingles(spark, dir).join(broadcast(candDocs), Seq("doc_id"), "left_semi")
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = p
      .join(sh.as("a"), col("d1") === col("a.doc_id"))
      .join(sh.as("b"), col("d2") === col("b.doc_id") && col("a.sh") === col("b.sh"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
    p.join(inter, Seq("d1", "d2"), "left")
      .join(sz.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sz.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("matches"),
        coalesce(col("inter"), lit(0L)).as("inter"),
        (col("s1.n") + col("s2.n") - coalesce(col("inter"), lit(0L))).as("uni"))
      .select(expr("matches * 1000 div 64").as("est_permille"),
        expr("inter * 1000 div uni").as("exact_permille"))
      .select(expr("abs(est_permille - exact_permille) div 50 * 50").as("err_band_lo_permille"),
        col("exact_permille"))
      .groupBy(col("err_band_lo_permille"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("exact_permille")).as("min_exact_permille"),
        max(col("exact_permille")).as("max_exact_permille"))
      .orderBy("err_band_lo_permille")
  }
}
