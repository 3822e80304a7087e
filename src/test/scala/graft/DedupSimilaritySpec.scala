package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends SparkSpec {

  test("exact dedup groups cover every document exactly once") {
    val out = Dedup.exactDedup(spark, sf0001)
    val total = out.agg(sum(col("n_copies"))).head().getLong(0)
    assert(total === 500L)
  }

  test("minhash-LSH candidates have full recall of high-Jaccard exact pairs") {
    // 16 bands × 4 rows: a pair at j≥0.9 is missed with prob (1-j⁴)^16 ≈ 1e-8
    val exact = Dedup.nearDupJaccard(spark, sf0001)
      .where(col("jaccard") >= 0.9)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(spark, sf0001)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain high-jaccard near-dups")
    assert(exact.subsetOf(lsh), s"missed: ${exact -- lsh}")
  }

  test("q29 band gate: counts match independent recomputes; verdicts honestly derived") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Dedup.nearDupJaccard(spark, sf0001).where(col("jaccard") >= 0.9))
    val xx = pairs(Dedup.minhashLshPairs(spark, sf0001))
    val pt = pairs(Dedup.minhashLshPairsPortable(spark, sf0001))
    val row = Dedup.minhashLshAgreement(spark, sf0001).collect() match {
      case Array(r) => r
      case rs => fail(s"expected exactly one audit row, got ${rs.length}")
    }
    assert(row.getAs[Long]("n_high_jaccard") === truth.size.toLong)
    assert(row.getAs[Long]("n_portable_pairs") === pt.size.toLong)
    assert(row.getAs[Boolean]("recall_ok") === truth.subsetOf(xx),
      "recall verdict disagrees with driver-side recompute")
    assert(row.getAs[Boolean]("parity_ok")
      === ((xx & pt).size.toLong * 1000 >= (xx | pt).size.toLong * 950),
      "parity verdict disagrees with driver-side recompute")
    assert(row.getAs[Boolean]("recall_ok") && row.getAs[Boolean]("parity_ok"),
      s"band gate red on fixture: truth=${truth.size} xx=${xx.size} portable=${pt.size}")
  }

  test("q135: containment catches partial copies Jaccard misses; all three verdicts exercised") {
    import spark.implicits._
    // doc 1 (3 shingles) is quoted whole inside doc 2 (10 shingles);
    // doc 3 repeats doc 1 byte-for-byte; doc 4 is unrelated
    val short = "a1 a2 a3 a4 a5"
    val long = short + " b1 b2 b3 b4 b5 b6 b7"
    val fixture = Seq((1L, short), (2L, long), (3L, short), (4L, "c1 c2 c3 c4 c5"))
    val got = operators.Dedup.containmentDedupOf(fixture.toDF("doc_id", "text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getString(7)))
    // driver recompute over raw distinct 3-gram sets
    def sh(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val sets = fixture.map { case (id, t) => id -> sh(t) }.toMap
    val expect = (for {
      Seq(a, b) <- fixture.map(_._1).combinations(2).toSeq
      inter = (sets(a) & sets(b)).size.toLong if inter > 0
      n1 = sets(a).size.toLong; n2 = sets(b).size.toLong
      c1 = 1000 * inter / n1; c2 = 1000 * inter / n2
      if math.max(c1, c2) >= operators.Dedup.ContainmentPermille
    } yield (a, b, inter, n1, n2, c1, c2,
      if (c1 >= 800 && c2 >= 800) "mutual" else if (c1 >= 800) "d1_in_d2" else "d2_in_d1"))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq === expect)
    val rel = got.map(r => (r._1, r._2) -> r._8).toMap
    assert(rel((1L, 2L)) === "d1_in_d2", "whole-quote inclusion must be directional")
    assert(rel((1L, 3L)) === "mutual", "byte-identical docs are mutually contained")
    assert(rel((2L, 3L)) === "d2_in_d1", "inclusion seen from the long side flips direction")
    // and the Jaccard operator at 0.6 would NOT pair 1-with-2 (j = 0.3):
    // the whole reason this operator exists
    assert(1000 * 3 / (3 + 10 - 3) < 600)
  }

  test("q143: incremental containment matches a frozen-index driver recompute; crafted batch probes verify") {
    import spark.implicits._
    // driver recompute of the DECLARED incremental semantics at sf0.001:
    // frozen corpus-split df stop list, batch representation minus the
    // stop list, cross-only pairs
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def sh(t: String): Set[String] = {
      val tk = t.split("\\s+", -1)
      if (tk.length < 3) Set.empty else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    val corpus = docs.filter(_._1 % 10 != 9).map { case (id, t) => id -> sh(t) }
    val df = corpus.flatMap(_._2).groupBy(identity).map { case (s, xs) => s -> xs.length }
    val stop = df.collect { case (s, d) if d > Dedup.MaxShingleDf => s }.toSet
    val idx = corpus.map { case (id, ss) => id -> ss.filterNot(stop) }.toMap
    val batch = docs.filter(_._1 % 10 == 9).map { case (id, t) => id -> sh(t).filterNot(stop) }
    val expect = (for {
      (b, bs) <- batch.toSeq; (c, cs) <- idx.toSeq
      inter = (bs & cs).size.toLong if inter > 0
      n1 = bs.size.toLong; n2 = cs.size.toLong
      c1 = 1000 * inter / n1; c2 = 1000 * inter / n2
      if math.max(c1, c2) >= Dedup.ContainmentPermille
    } yield (b, c, inter, n1, n2, c1, c2,
      if (c1 >= 800 && c2 >= 800) "mutual" else if (c1 >= 800) "d1_in_d2" else "d2_in_d1"))
      .sortBy(t => (t._1, t._2))
    val got = Dedup.containmentIncremental(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getString(7)))
    assert(got.toSeq === expect, "incremental verdicts must equal the frozen-index recompute")
    assert(expect.nonEmpty, "sf0.001 fixture must exercise the probe")
    // crafted probes through the *Of form: a batch doc quoting a corpus
    // doc wholly is directional; an exact copy is mutual; unrelated is absent
    val corpusDoc = docs.find(d => d._1 % 10 != 9 && sh(d._2).filterNot(stop).size >= 3).get
    val crafted = Seq(
      (100009L, corpusDoc._2 + " zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9 zq10 zq11 zq12"),
      (100019L, corpusDoc._2),
      (100029L, "zz1 zz2 zz3 zz4 zz5"))
      .toDF("doc_id", "text")
    val verdicts = Dedup.containmentIncrementalOf(spark, sf0001, crafted).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(7)).toMap
    assert(verdicts((100019L, corpusDoc._1)) === "mutual")
    assert(verdicts((100009L, corpusDoc._1)) === "d2_in_d1",
      "the quoted corpus doc is contained in the longer batch doc")
    assert(!verdicts.keySet.exists(_._1 == 100029L), "unrelated batch doc pairs with nothing")
  }

  test("q98 funnel: stages nest monotonically, raw row matches the corpus, exact row matches q27") {
    val rows = Dedup.dedupFunnel(spark, sf0001).collect()
    assert(rows.map(_.getAs[String]("stage")).toSeq ===
      Seq("raw", "exact", "near_dup", "span_screen"))
    val docs = rows.map(_.getAs[Long]("n_docs"))
    val toks = rows.map(_.getAs[Long]("n_tokens"))
    assert(docs.zip(docs.tail).forall { case (a, b) => b <= a }, docs.toSeq)
    assert(toks.zip(toks.tail).forall { case (a, b) => b <= a }, toks.toSeq)
    assert(docs(0) === 500L)
    assert(rows(0).getAs[Long]("retained_docs_permille") === 1000L)
    val exactKeepers = Dedup.exactDedup(spark, sf0001).count()
    assert(docs(1) === exactKeepers)
    // near-dup stage keeps exactly one doc per q61 cluster
    val clusters = Dedup.nearDupClusters(spark, sf0001)
    val clusteredDrops = clusters.where(col("doc_id") =!= col("comp_id")).count()
    assert(docs(2) === docs(1) - clusteredDrops)
  }

  test("q120: survivor per cluster is the longest member (tie: smallest id); token bookkeeping telescopes") {
    val labels = Dedup.nearDupClusters(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("comp_id")))
    val nToks = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split("\\s+", -1).length.toLong)).toMap
    val expect = labels.groupBy(_._2).toSeq.sortBy(_._1).map { case (comp, xs) =>
      val members = xs.map { case (id, _) => (id, nToks(id)) }
      val (survivor, survToks) = members.minBy { case (id, t) => (-t, id) }
      (comp, members.length.toLong, members.map(_._2).sum, survivor, survToks,
        members.map(_._2).sum - survToks)
    }
    val out = Dedup.dedupSurvivors(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq === expect)
    // non-vacuous: real multi-member clusters, and at least one cluster
    // where the survivor is NOT the root (the policy did something the
    // labels alone don't)
    assert(expect.exists(_._2 >= 2))
    assert(out.forall { case (_, _, total, _, kept, removed) => total === kept + removed })
    assert(expect.exists { case (comp, _, _, survivor, _, _) => survivor != comp })
  }

  test("q121: recall audit matches a driver-side exact-Jaccard recompute over the slice") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val m = Similarity.auditModulus(docs.length.toLong)
    def shingleSet(t: String): Set[String] = {
      val tk = t.split("\\s+", -1)
      if (tk.length < 3) Set.empty
      else tk.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    val slice = docs.filter(_._1 % m == 0).map { case (id, t) => (id, shingleSet(t)) }
      .filter(_._2.nonEmpty)
    val cand = Dedup.minhashLshPairsPortable(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairs = for {
      (d1, s1) <- slice; (d2, s2) <- slice if d1 < d2
      inter = (s1 & s2).size if inter > 0
      jperm = 1000L * inter / (s1.size + s2.size - inter)
      if jperm >= Dedup.RecallAuditMinPermille
    } yield (jperm / 100 * 100, if (cand.contains((d1, d2))) 1L else 0L)
    val expect = pairs.groupBy(_._1).toSeq.sortBy(_._1).map { case (band, xs) =>
      val found = xs.map(_._2).sum
      (band, xs.size.toLong, found, xs.size - found,
        1000L * (xs.size - found) / xs.size)
    }
    val out = Dedup.lshRecallAudit(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq === expect)
    assert(expect.nonEmpty, "slice must surface at least one auditable pair")
    // true duplicates (>= 900 permille) must be found — a miss there is
    // a banding bug, not a tuning choice
    out.filter(_._1 >= 900).foreach { case (band, _, _, missed, _) =>
      assert(missed === 0L, s"band $band missed a true duplicate")
    }
  }

  test("q29c reads the ONE persisted LSH pair table, never re-deriving signatures warm") {
    // force the build once; the warm plan must scan the fingerprinted
    // pair table instead of re-running shingles → signatures → banding
    assert(Dedup.minhashLshPairsPortable(spark, sf0001).count() > 0L)
    val plan = Dedup.minhashLshPairsPortable(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("lsh_pairs_"), "q29c must read the persisted pair table")
    assert(!plan.contains("documents.parquet"), "warm q29c must not re-scan the corpus")
  }

  test("q99 calibration: bands partition the q29c pairs; all integer-permille, 50-aligned") {
    val out = Dedup.minhashCalibration(spark, sf0001).collect()
    assert(out.nonEmpty, "fixture near-dups should yield LSH pairs to calibrate")
    val nPairs = Dedup.minhashLshPairsPortable(spark, sf0001).count()
    assert(out.map(_.getAs[Long]("n_pairs")).sum === nPairs)
    out.foreach { r =>
      val lo = r.getAs[Long]("err_band_lo_permille")
      assert(lo >= 0L && lo % 50 === 0L, s"band lo $lo")
      val (mn, mx) = (r.getAs[Long]("min_exact_permille"), r.getAs[Long]("max_exact_permille"))
      assert(mn >= 0L && mx <= 1000L && mn <= mx, s"exact permille range [$mn,$mx]")
    }
  }

  test("minhash signature similarity estimates true jaccard within 0.2 for near-dups") {
    val joined = Dedup.nearDupJaccard(spark, sf0001).as("e")
      .join(Dedup.minhashLshPairs(spark, sf0001).as("m"), Seq("d1", "d2"))
      .select(col("jaccard"), col("est_jaccard")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) <= 0.2,
        s"jaccard=${r.getDouble(0)} est=${r.getDouble(1)}")
    }
  }

  test("q81: quantized ranking matches a driver-side int8 recompute; codes stay in [0,127]") {
    val out = Similarity.quantizedAnnTopK(spark, sf0001).collect()
    val embs = graft.sources.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    // the decimal-exact norm all cosine queries share (per-product round
    // to 12 dp, exact sum, round, sqrt)
    def normDec(v: Array[Float]): Double = math.sqrt(
      v.map(x => BigDecimal(x.toDouble * x.toDouble).setScale(12, BigDecimal.RoundingMode.HALF_UP))
        .sum.setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble)
    def quant(v: Array[Float]): Array[Int] = {
      val n = normDec(v)
      v.map(x => if (n == 0.0) 0 else math.floor((x.toDouble / n) * 127.0 + 0.5).toInt)
    }
    val codes = embs.map { case (id, v) => id -> quant(v) }.toMap
    codes.values.foreach(_.foreach(c => assert(c >= -127 && c <= 127)))
    val expect = (0L to 4L).flatMap { qid =>
      embs.filter(_._1 != qid).map { case (nid, _) =>
        val d = codes(qid).zip(codes(nid)).map { case (a, b) => a.toLong * b }.sum
        (qid, nid, d)
      }.sortBy { case (_, nid, d) => (-d, nid) }.take(5)
        .zipWithIndex.map { case ((q, n, d), i) => (q, n, d, i + 1L) }
    }
    val got = out.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"),
      r.getAs[Long]("approx_dot"), r.getAs[Long]("rank"))).toSeq
    assert(got === expect)
    // quality audit: quantized top-5 should mostly agree with the exact
    // top-5 (int8 on 64 dims loses little); require >= 3/5 overlap per query
    val brute = Similarity.knnBrute(spark, sf0001).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("n_id")).toSet }
    out.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      val overlap = rs.map(_.getAs[Long]("n_id")).toSet.intersect(brute(q)).size
      assert(overlap >= 3, s"query $q: quantized/exact overlap $overlap < 3")
    }
  }

  test("simhash is 16 lowercase hex chars and identical docs collide") {
    val out = Dedup.simhash(spark, sf0001).collect()
    assert(out.length === 500)
    out.foreach(r => assert(r.getString(1).matches("[0-9a-f]{16}")))
  }

  test("simhash near pairs all have hamming <= 6 and include a jaccard near-dup") {
    val pairs = Dedup.simhashNearPairs(spark, sf0001).collect()
    pairs.foreach(r => assert(r.getAs[Long]("hamming") <= 6))
    val exact = Dedup.nearDupJaccard(spark, sf0001)
      .where(col("jaccard") >= 0.95)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = pairs.map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(exact.intersect(sim).nonEmpty, "0.95-jaccard dups should be simhash-near")
  }

  test("bloom-pruned incremental dedup matches the exact probe and actually prunes") {
    graft.sources.Tables.forget(Dedup.BloomFilters)
    val exact = Dedup.incrementalDedup(spark, sf0001).collect()
    // a caller-owned Observation binds the probe metrics to THIS action:
    // the global Diagnostics name-keyed capture can race with a parallel
    // suite running q74 on an empty corpus (same observation name)
    val obs = org.apache.spark.sql.Observation()
    val bloomed = Dedup.bloomIncrementalDedup(spark, sf0001, Some(obs)).collect()
    // identical answer: the filter changes WHICH rows pay the confirm
    // join, never the result (no false negatives; FPs die in the join)
    assert(bloomed.map(_.toString).toSeq === exact.map(_.toString).toSeq)

    val nDup = exact.count(_.getAs[String]("status") == "dup").toLong
    val nBatch = exact.length.toLong
    val m = obs.get
    assert(m("batch_rows") === nBatch)
    val hits = m("bloom_hits").asInstanceOf[Long]
    // every true dup must bloom-hit (no false negatives) ...
    assert(hits >= nDup, s"false negative: $hits hits < $nDup dups")
    // ... and at 3% fpp most novel rows are pruned off the join
    assert(hits < nBatch, s"no pruning: all $nBatch batch rows hit the filter")
  }

  test("semantic dedup: keep iff no earlier in-cluster near-dup, drops are true pairs") {
    val out = Similarity.semanticDedup(spark, sf0001).collect()
    assert(out.length === 500)
    out.foreach { r =>
      assert(r.getAs[Boolean]("keep") === (r.getAs[Long]("n_dups_earlier") == 0L))
      assert(r.getAs[Long]("cell") >= 0L && r.getAs[Long]("cell") <= 15L)
    }
    val dropped = out.filter(!_.getAs[Boolean]("keep")).map(_.getAs[Long]("vec_id")).toSet
    assert(dropped.nonEmpty, "fixture should contain in-cluster semantic dups")
    // cluster+band blocking only ever REMOVES candidates: every drop must be
    // the higher id of a TRUE all-pairs cos>=0.4 pair (precision = 1)
    val truth = Similarity.embeddingNearDupPairs(spark, sf0001, every = 1)
      .select("v2").collect().map(_.getLong(0)).toSet
    assert(dropped.subsetOf(truth), s"phantom drops: ${dropped -- truth}")
  }

  test("knn brute force: cosine in [-1,1], ranks 1..5 per query, no self-matches") {
    val out = Similarity.knnBrute(spark, sf0001).collect()
    assert(out.length === 25)
    out.foreach { r =>
      val cos = r.getAs[Double]("cos_sim")
      assert(cos >= -1.0000001 && cos <= 1.0000001)
      assert(r.getAs[Long]("q_id") !== r.getAs[Long]("n_id"))
    }
    val ranks = out.filter(_.getAs[Long]("q_id") == 0L).map(_.getAs[Long]("rank")).toSeq
    assert(ranks === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("ann-lsh results are a subset of the full ranking restricted to the bucket") {
    // every ANN neighbor must score <= the brute-force rank-1 neighbor
    val brute = Similarity.knnBrute(spark, sf0001)
      .where(col("rank") === 1)
      .select(col("q_id"), col("cos_sim").as("best")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = Similarity.annLshTop3(spark, sf0001).collect()
    assert(ann.nonEmpty)
    ann.foreach { r =>
      assert(r.getAs[Double]("cos_sim") <= brute(r.getAs[Long]("q_id")) + 1e-12)
    }
  }

  test("flagship LSH near-dup: exact-verified subset with high recall, no nested-loop join") {
    val exact = Similarity.embeddingNearDupPairs(spark, sf0001)
      .select("v1", "v2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshDf = Similarity.embeddingNearDupPairsLsh(spark, sf0001)
    val plan = lshDf.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "flagship near-dup must not contain a nested-loop/cartesian join")
    val lsh = lshDf.select("v1", "v2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH emitted non-near-dup pairs: ${lsh -- exact}")
    assert(exact.nonEmpty && lsh.size.toDouble / exact.size >= 0.6,
      s"recall ${lsh.size}/${exact.size} below 0.6 (theory: ~0.9 at cos=0.4)")
  }

  test("q163: source-pair rollup replays from the q28 pairs; shares partition the dup mass") {
    val rows = Dedup.crossSourceDupMass(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val srcOf = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Dedup.nearDupJaccard(spark, sf0001).select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = pairs.map { case (d1, d2) =>
      val (a, b) = (srcOf(d1), srcOf(d2))
      if (a <= b) (a, b) else (b, a)
    }.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    assert(rows.length === expect.size, "one row per observed source pair")
    rows.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      assert(r.getString(0) <= r.getString(1), "source pair is unordered-canonical")
      assert(r.getLong(2) === expect(key), s"count for $key")
      assert(r.getBoolean(4) === (r.getString(0) != r.getString(1)))
    }
    assert(rows.map(_.getLong(2)).sum === pairs.length.toLong, "cells partition the pair set")
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-5, "shares sum to 1 (mod rounding)")
  }

  test("q160 isolation: per-label counts replay from the pair set; matched vecs are true near-dups") {
    val iso = Similarity.embeddingIsolation(spark, sf0001).collect()
    assert(iso.nonEmpty)
    val pairs = Similarity.embeddingNearDupPairsLsh(spark, sf0001)
      .select("v1", "v2").collect()
    val matched = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val labelOf = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("label").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(iso.map(_.getLong(1)).sum === labelOf.size.toLong, "labels partition the corpus")
    iso.foreach { r =>
      val l = r.getLong(0)
      val ids = labelOf.collect { case (v, `l`) => v }.toSet
      assert(r.getLong(1) === ids.size.toLong)
      assert(r.getLong(2) === (ids & matched).size.toLong, s"label $l matched count")
      assert(r.getLong(1) === r.getLong(2) + r.getLong(3), "matched + isolated = total")
      val rate = r.getDouble(4)
      assert(rate >= 0.0 && rate <= 1.0)
    }
    // no false matches: LSH pairs are exact-verified (subset test above),
    // so every matched vec has a TRUE cos >= 0.4 neighbor
    val trulyMatched = Similarity.embeddingNearDupPairs(spark, sf0001)
      .select("v1", "v2").collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(matched.subsetOf(trulyMatched), "isolation audit counted a false match")
  }

  test("q166 cell balance: populations partition the corpus; factor and verdict replay") {
    val rows = Similarity.ivfCellBalance(spark, sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 16)
    val total = rows.map(_.getLong(1)).sum
    val n = graft.sources.Tables.embeddings(spark, sf0001).count()
    assert(total === n, "every vector lands in exactly one cell")
    val nc = rows.length.toLong
    rows.foreach { r =>
      val (cell, nv) = (r.getLong(0), r.getLong(1))
      assert(cell >= 0 && cell < 16)
      assert(math.abs(r.getDouble(2) - nv.toDouble / total) < 1e-6, "share")
      assert(math.abs(r.getDouble(3) - nv.toDouble * nc / total) < 1e-6, "balance factor")
      assert(r.getBoolean(4) === (nv * nc > total * 2), "overloaded verdict")
    }
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-5, "shares partition")
  }

  test("q162 filtered ANN: label-pure, equals the same-label cut of the unfiltered probe, n_found honest") {
    val res = Similarity.annIvfFilteredTopK(spark, sf0001).collect()
    assert(res.nonEmpty)
    val labelOf = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("label").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    res.foreach { r =>
      assert(r.getLong(2) === labelOf(r.getLong(0)), "row label is the query's")
      assert(r.getLong(2) === labelOf(r.getLong(1)), "neighbor shares the query's label")
    }
    res.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val ranks = rs.map(_.getLong(5)).sorted.toSeq
      assert(ranks === (1L to ranks.length.toLong), s"q$q ranks not contiguous")
      val nf = rs.map(_.getLong(6)).distinct
      assert(nf.length === 1, "n_found constant per query")
      assert(ranks.length.toLong === math.min(5L, nf.head),
        s"q$q returned ${ranks.length} rows for n_found=${nf.head}")
    }
    // pre-filter semantics: exactly the same-label cut of the UNFILTERED
    // probe over the same cells, re-ranked — never a post-filtered top-k
    val unfiltered = Similarity.annIvfTopK(spark, sf0001, nprobe = 4, k = 1000000).collect()
    val expect = unfiltered.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.filter(r => labelOf(r.getLong(1)) == labelOf(q))
        .sortBy(r => (-r.getDouble(3), r.getLong(1))).take(5).map(_.getLong(1)).toSeq
    }
    res.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val got = rs.sortBy(_.getLong(5)).map(_.getLong(1)).toSeq
      assert(got === expect(q), s"q$q filtered top-k diverges from the same-label cut")
    }
  }

  test("q167: threshold sweep matches a driver recompute over df-filtered shingles; curve is monotone") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def sh(t: String): Set[String] = {
      val tk = t.split("\\s+", -1)
      if (tk.length < 3) Set.empty
      else tk.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    val raw = docs.map { case (id, t, _) => id -> sh(t) }.toMap
    val df = raw.toSeq.flatMap { case (id, s) => s.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.size).toMap
    val kept = raw.view.mapValues(_.filter(s => df(s) <= Dedup.MaxShingleDf)).toMap
    // pairs via a driver inverted index (mirrors the posting-list core)
    val postings = kept.toSeq.flatMap { case (id, s) => s.map(_ -> id) }
      .groupBy(_._1).values.map(_.map(_._2).sorted)
    val inter = scala.collection.mutable.Map[(Long, Long), Long]()
    postings.foreach { ds =>
      for (i <- ds.indices; jx <- i + 1 until ds.length)
        inter((ds(i), ds(jx))) = inter.getOrElse((ds(i), ds(jx)), 0L) + 1L
    }
    val jp = inter.toSeq.map { case ((d1, d2), in) =>
      (d1, d2, 1000L * in / (kept(d1).size + kept(d2).size - in))
    }
    val chars = docs.map(d => d._1 -> d._3).toMap
    val totalChars = docs.map(_._3).sum
    val rows = Dedup.dedupThresholdSweep(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSeq === Dedup.SweepThresholds)
    rows.foreach { r =>
      val t = r.getLong(0)
      val hits = jp.filter(_._3 >= t)
      val flagged = (hits.map(_._1) ++ hits.map(_._2)).distinct
      assert(r.getLong(1) === hits.length.toLong, s"n_pairs at $t")
      assert(r.getLong(2) === flagged.length.toLong, s"n_docs_flagged at $t")
      assert(r.getLong(3) === flagged.map(chars).sum, s"flagged_chars at $t")
      assert(math.abs(r.getDouble(4) - flagged.map(chars).sum.toDouble / totalChars) < 1e-6)
    }
    // the operating curve is monotone non-increasing in the threshold
    val curve = rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    curve.sliding(2).foreach { case Array(a, b) =>
      assert(a._1 >= b._1 && a._2 >= b._2 && a._3 >= b._3, "curve not monotone")
    }
    // the sweep actually discriminates: the loosest cut flags more than the tightest
    assert(curve.head._1 > curve.last._1, "fixture gives a flat curve — thresholds indistinguishable")
  }

  test("q168: per-pair cosine matches an exact-decimal driver recompute; statuses replay") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def dec(rows: Seq[Float], other: Seq[Float]): Double =
      rows.zip(other).foldLeft(JBD.ZERO) { case (acc, (x, y)) =>
        acc.add(new JBD(x.toDouble * y.toDouble).setScale(12, RoundingMode.HALF_UP))
      }.setScale(12, RoundingMode.HALF_UP).doubleValue
    val embs = graft.sources.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val pairs = Dedup.nearDupJaccard(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val out = Similarity.modalitySkew(spark, sf0001).collect()
    assert(out.length === pairs.length, "every text pair gets a verdict row")
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq === pairs)
    out.foreach { r =>
      (embs.get(r.getLong(0)), embs.get(r.getLong(1))) match {
        case (Some(a), Some(b)) =>
          val cos = dec(a, b) / (math.sqrt(dec(a, a)) * math.sqrt(dec(b, b)))
          assert(r.getDouble(3) === cos, s"pair ${r.getLong(0)}-${r.getLong(1)}")
          assert(r.getString(4) ===
            (if (cos >= Similarity.SkewCosineFloor) "aligned" else "skewed"))
        case _ =>
          assert(r.isNullAt(3) && r.getString(4) === "missing_embedding")
      }
    }
    assert(out.nonEmpty, "fixture carries no near-dup text pairs")
    // at sf0.1 the embedding table genuinely lags the corpus (vec_ids
    // 0-1999 of 5000 docs): the missing leg must replay exactly as the
    // coverage cut, and must be LIVE (non-zero), not a vacuous branch
    val sf01 = "/root/testdata/sf0.1"
    val covered = graft.sources.Tables.embeddings(spark, sf01)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val out01 = Similarity.modalitySkew(spark, sf01).collect()
    val missing = out01.count(_.getString(4) == "missing_embedding")
    val expectMissing = out01.count(r =>
      !covered(r.getLong(0)) || !covered(r.getLong(1)))
    assert(missing === expectMissing)
    assert(missing > 0, "sf0.1 coverage gap vanished — the missing leg is untested")
    assert(out01.exists(_.getString(4) != "missing_embedding"),
      "no pair with both embeddings present at sf0.1")
  }

  test("connected components: a 200-deep chain converges in O(log n) rounds, not O(diameter)") {
    import spark.implicits._
    // a path graph 0-1-2-...-200: min-label propagation needed one round
    // per hop (200 rounds — it could only surface converged=false inside
    // MaxCcIters=20); star contraction must finish well inside the cap
    val chain = (0L until 200L).map(i => (i, i + 1))
    val edges = (chain ++ chain.map(_.swap)).toDF("src", "dst")
    val (_, convergedCapped, _) =
      graft.operators.Dedup.connectedComponents(edges, 2)
    assert(!convergedCapped, "2 rounds cannot converge a depth-200 chain")
    val (labels, converged, rounds) =
      graft.operators.Dedup.connectedComponents(edges, graft.operators.Dedup.MaxCcIters)
    assert(converged, s"depth-200 chain must converge within MaxCcIters (took $rounds)")
    assert(rounds <= 12, s"star contraction should be ~log2(200)+1 rounds, took $rounds")
    val comps = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size === 201 && comps.values.forall(_ === 0L),
      "all chain vertices must label to the min id 0")
  }

  test("connected components: random multi-component graph labels every vertex to its component min") {
    import spark.implicits._
    // 3 components with shuffled ids + 2 singleton-free isolated pairs;
    // deterministic edge set, compared against a driver-side union-find
    val comps = Seq(
      Seq(7L, 3L, 99L, 42L, 15L, 8L),
      Seq(100L, 205L, 101L, 150L),
      Seq(500L, 501L),
      Seq(777L, 9L, 888L))
    val rng = new scala.util.Random(42)
    val edges = comps.flatMap { vs =>
      // random spanning path + a few chords
      val sh = rng.shuffle(vs)
      val path = sh.sliding(2).collect { case Seq(a, b) => (a, b) }.toSeq
      val chords = if (vs.size > 3) Seq((sh.head, sh.last)) else Nil
      path ++ chords
    }
    val (labels, converged, _) =
      graft.operators.Dedup.connectedComponents(edges.toDF("src", "dst"), graft.operators.Dedup.MaxCcIters)
    assert(converged)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = comps.flatMap(vs => vs.map(_ -> vs.min)).toMap
    assert(got === want)
    // the single-task union-find (q149's under-cap fast path) labels the
    // SAME canonical edge set identically to the star contraction
    val canon = edges.toDF("src", "dst")
      .where(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct()
    val fast = graft.operators.Dedup.ccSingleTask(canon).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === want, "ccSingleTask diverged from the contraction labels")
  }

  test("incremental near-dup: the probe shuffles ONLY the batch; index side reads bucketed") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val cand = graft.operators.Dedup.incrementalNearDupCandidates(spark, sf0001)
    cand.collect() // finalize AQE
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case s: QueryStageExec => allNodes(s.plan)
      case _ => p.children.flatMap(allNodes)
    })
    def hasIndexScan(p: SparkPlan): Boolean = allNodes(p).exists {
      case f: FileSourceScanExec =>
        f.bucketedScan && f.tableIdentifier.exists(_.table.startsWith("lsh_bands"))
      case _ => false
    }
    val join = allNodes(cand.queryExecution.executedPlan)
      .collectFirst { case j: SortMergeJoinExec if hasIndexScan(j) => j }
      .getOrElse(fail("expected a sort-merge probe join over the bucketed index"))
    val (idxSide, batchSide) =
      if (hasIndexScan(join.right)) (join.right, join.left) else (join.left, join.right)
    assert(!allNodes(idxSide).exists(_.isInstanceOf[ShuffleExchangeLike]),
      "index side must consume its persisted bucketed layout with NO shuffle")
    assert(allNodes(batchSide).exists(_.isInstanceOf[ShuffleExchangeLike]),
      "the batch is the only side that shuffles into the join")
  }

  test("incremental near-dup verdicts match a from-scratch recompute, and cover every batch doc") {
    val out = Dedup.incrementalNearDup(spark, sf0001).collect()
    assert(out.length === 50, "one verdict row per batch doc (doc_id % 10 = 9)")
    val dups = out.filter(_.getString(1) == "dup")
    assert(dups.nonEmpty, "fixture contains near-dups across the split")
    dups.foreach { r =>
      assert(r.getLong(2) % 10 !== 9L, "dup_of must point into the corpus split")
      assert(r.getDouble(3) >= 0.5)
    }
  }

  test("incremental near-dup: novel batch buckets append once, idempotently, preserving the probe") {
    import spark.implicits._
    // tiny corpus: two corpus docs + one batch doc (id 9) that is a near-dup
    // of corpus doc 1, and one batch doc (id 19) that is genuinely new
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, base, "en", "t", 1L),
      (2L, "completely different content about query planners and shuffles here", "en", "t", 1L),
      (9L, base + " nu", "en", "t", 1L), // near-dup of 1
      (19L, "unrelated fresh document with brand new vocabulary entirely", "en", "t", 1L))
    val dir = java.nio.file.Files.createTempDirectory("graft-incnd").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val verdicts = Dedup.incrementalNearDup(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(verdicts === Map(9L -> "dup", 19L -> "new"))

    val table = Dedup.ensureLshBandIndex(spark, dir)
    val before = spark.table(table).count()
    val appended = Dedup.appendNovelBatchBuckets(spark, dir)
    assert(appended > 0, "the new batch doc's buckets must be novel")
    assert(spark.table(table).count() === before + appended)
    assert(Dedup.appendNovelBatchBuckets(spark, dir) === 0L,
      "second append of the same batch must be a no-op (keys no longer novel)")
    // the appended table still probes fine (layout preserved)
    assert(Dedup.incrementalNearDup(spark, dir).count() === 2L)
  }

  test("q34 audit slice is constant-size at any corpus scale") {
    // modulus grows linearly with n, so kept rows ~ AuditRows at any n
    assert(Similarity.auditModulus(0) === 1)
    assert(Similarity.auditModulus(100) === 1)          // small corpus: keep all
    assert(Similarity.auditModulus(500) === 4)          // sf0.01: 125 rows
    assert(Similarity.auditModulus(2000) === 16)        // sf0.1: 125 rows
    assert(Similarity.auditModulus(16000) === 125)      // 8x probe: 128 rows
    assert(Similarity.auditModulus(2_000_000_000L) === 15_625_000L)
    for (n <- Seq(500L, 2000L, 16000L, 1_000_000L, 2_000_000_000L)) {
      val kept = (n + Similarity.auditModulus(n) - 1) / Similarity.auditModulus(n)
      assert(kept <= Similarity.AuditRows,
        s"slice at n=$n would keep $kept rows > ${Similarity.AuditRows}")
    }
    // end-to-end: the audit entry stays hash-consistent with the explicit
    // every=4 slice on the 500-row fixture (ceil(500/128) = 4)
    val audit = Similarity.embeddingNearDupPairsAudit(spark, sf0001).collect()
    val manual = Similarity.embeddingNearDupPairs(spark, sf0001, every = 4).collect()
    assert(audit.map(_.toSeq).toSeq === manual.map(_.toSeq).toSeq)
  }

  test("1k-copy duplicate cluster: bucket caps bound the pair explosion, no OOM") {
    import spark.implicits._
    val clone = "the quick brown fox jumps over the lazy dog repeatedly every day"
    val docs = (0L until 1000L).map(i => (i, clone, "en", "stress", clone.length.toLong)) ++
      Seq((1000L, "completely different text about spark partitions and shuffles", "en", "stress", 62L),
          (1001L, "another unrelated document mentioning catalyst and tungsten", "en", "stress", 60L))
    val dir = java.nio.file.Files.createTempDirectory("graft-stress").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // MinHash-LSH: 1000 identical sigs land in ONE bucket per band; the cap
    // keeps the 64 smallest doc_ids -> exactly C(64,2) pairs, not C(1000,2).
    val lsh = Dedup.minhashLshPairs(spark, dir).collect()
    assert(lsh.length === 64 * 63 / 2, s"expected capped pair count, got ${lsh.length}")
    lsh.foreach(r => assert(r.getAs[Double]("est_jaccard") === 1.0))

    // ...and the cap is OBSERVABLE: each of the 16 bands put all 1000
    // clones in one bucket and dropped 936 — the q29_lsh_buckets metric is
    // the operational alarm a duplicate-heavy corpus trips. Delivery is
    // async via the listener bus, so poll.
    val wantDropped = (1000L - Dedup.MaxBucket) * 16
    val deadline = System.nanoTime() + 15e9.toLong
    def metrics = graft.operators.Diagnostics.lastMetrics("q29_lsh_buckets")
    while (!metrics.exists(_.get("overflow_members_dropped").contains(wantDropped))
        && System.nanoTime() < deadline) Thread.sleep(25)
    val m = metrics.getOrElse(fail("q29_lsh_buckets metric never arrived"))
    assert(m("overflow_members_dropped") === wantDropped)
    assert(m("n_buckets") === 16L, "only the 16 clone buckets have >= 2 members")
    val rep = graft.operators.Diagnostics.report(spark)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rep.contains(("q29_lsh_buckets", "overflow_members_dropped", wantDropped.toString)))

    // SimHash banding gets the same cap treatment.
    val sim = Dedup.simhashNearPairs(spark, dir).collect()
    assert(sim.length === 64 * 63 / 2)
    sim.foreach(r => assert(r.getAs[Long]("hamming") === 0L))

    // The Jaccard path's df cutoff classifies the clone's shingles as
    // stop-shingles (df=1000 > MaxShingleDf) — the mega-cluster is exact-
    // dedup's job (tier 1), not the near-dup join's.
    assert(Dedup.nearDupJaccard(spark, dir).count() === 0L)
    val hot = Dedup.hotShingles(spark, dir).collect()
    assert(hot.nonEmpty && hot.forall(_.getAs[Long]("df") === 1000L))
    assert(Dedup.exactDedup(spark, dir).count() === 3L) // clone group + 2 singletons

    // q76 span screen: every clone's spans are first-owned by doc 0 —
    // rep_permille pegs at 1000 with no pairwise expansion anywhere
    val spans = graft.operators.TextAnalysis.repeatedSpanCoverage(spark, dir).collect()
    assert(spans.filter(r => r.getLong(0) > 0 && r.getLong(0) < 1000)
      .forall(_.getAs[Long]("rep_permille") === 1000L))
    assert(spans.find(_.getLong(0) == 0L).get.getAs[Long]("repeated_spans") === 0L)

    // q88 matrix: a single-source corpus has no cross-source pairs, and
    // the per-span source lists stay bounded by #sources regardless of
    // the 1000-fold duplication
    assert(graft.operators.TextAnalysis.crossSourceContamination(spark, dir).collect().isEmpty)

    // q89 split safety at stress scale: the clones' shingles are df-cut
    // (no near-dup cluster forms), so all 1000 byte-identical copies ride
    // the md5 fallback — and still land in exactly ONE split
    val splits = Dedup.clusterSafeSplit(spark, dir).collect()
      .filter(_.getLong(0) < 1000).map(_.getString(2)).distinct
    assert(splits.length === 1, s"clones straddled splits: ${splits.mkString(",")}")
  }

  test("IVF ANN with full probe reproduces the brute-force ranking exactly") {
    val brute = Similarity.knnBrute(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val full = Similarity.annIvfTopK(spark, sf0001, nprobe = 16).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"), r.getAs[Long]("rank"))).toSet
    assert(full === brute, "probing every cell must degenerate to exact brute force")
  }

  test("IVF ANN with nprobe=4: valid ranks, scores bounded by brute best, sane recall") {
    val ivf = Similarity.annIvfTopK(spark, sf0001).collect()
    assert(ivf.nonEmpty)
    val bruteBest = Similarity.knnBrute(spark, sf0001).where(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    ivf.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq === (1L to rs.length).toSeq)
    }
    ivf.foreach { r =>
      assert(r.getAs[Double]("cos_sim") <= bruteBest(r.getAs[Long]("q_id")) + 1e-12)
    }
  }

  test("k-means IVF: trained model is unit-norm + deterministic; full probe stays exact; recall >= seeds'") {
    val m1 = Similarity.trainIvfCentroids(spark, sf0001)
    val m2 = Similarity.trainIvfCentroids(spark, sf0001)
    assert(m1.map(_.toSeq).toSeq === m2.map(_.toSeq).toSeq,
      "decimal-summed means must make training bit-deterministic")
    m1.foreach(c => assert(math.abs(math.sqrt(c.map(d => d * d).sum) - 1.0) < 1e-9))

    val brute = Similarity.knnBrute(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullProbe = Similarity.annIvfTopK(spark, sf0001, nprobe = 16, centroids = m1).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    assert(fullProbe === brute, "full probe must stay exact under any centroids")

    def recall(rows: Array[org.apache.spark.sql.Row]): Int =
      rows.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).count(brute.contains)
    val trained = recall(Similarity.annIvfKmeansTopK(spark, sf0001).collect())
    val seeded = recall(Similarity.annIvfTopK(spark, sf0001).collect())
    assert(trained >= seeded,
      s"k-means cells should not lose recall vs LCG seeds ($trained < $seeded)")
  }

  test("k-means IVF model persists to parquet: a cold session loads it instead of retraining") {
    val m1 = Similarity.trainIvfCentroids(spark, sf0001)
    graft.sources.Tables.forget(Similarity.IvfModels) // simulate a fresh JVM's empty memory tier
    spark.sparkContext.setJobGroup("ivf-reload", "model reload probe", interruptOnCancel = false)
    val m2 = try Similarity.trainIvfCentroids(spark, sf0001)
    finally spark.sparkContext.clearJobGroup()
    val reloadJobs = spark.sparkContext.statusTracker.getJobIdsForGroup("ivf-reload").length
    assert(m2.map(_.toSeq).toSeq === m1.map(_.toSeq).toSeq,
      "persisted model must round-trip bit-identically")
    assert(reloadJobs <= 2,
      s"reload must read the model table (1 tiny job), not retrain (3+ passes); ran $reloadJobs jobs")
  }

  test("q87: IVF maintenance partitions the corpus/batch exactly; drift algebra is consistent") {
    val out = Similarity.incrementalIvfMaintenance(spark, sf0001).collect()
    val ids = graft.sources.Tables.embeddings(spark, sf0001)
      .select("vec_id").collect().map(_.getLong(0))
    assert(out.map(_.getAs[Long]("n_corpus")).sum === ids.count(_ % 10 != 8).toLong)
    assert(out.map(_.getAs[Long]("n_batch")).sum === ids.count(_ % 10 == 8).toLong)
    val gb = out.map(_.getAs[Long]("n_batch")).sum
    val gt = out.map(_.getAs[Long]("total_after")).sum
    out.foreach { r =>
      assert(r.getAs[Long]("total_after") ===
        r.getAs[Long]("n_corpus") + r.getAs[Long]("n_batch"))
      assert(r.getAs[Long]("batch_permille") ===
        1000L * r.getAs[Long]("n_batch") / r.getAs[Long]("total_after"))
      assert(r.getAs[Long]("overall_permille") === 1000L * gb / gt)
      assert(r.getAs[Boolean]("drift") ===
        (r.getAs[Long]("batch_permille") > 2L * r.getAs[Long]("overall_permille")))
    }
    // the held-out model is its own artifact: corpus-only training must not
    // collide with (or silently reuse) the full-corpus q60 model
    val full = Similarity.trainIvfCentroids(spark, sf0001)
    val held = Similarity.trainIvfCentroids(spark, sf0001, corpusOnly = true)
    assert(full.map(_.toSeq).toSeq !== held.map(_.toSeq).toSeq,
      "holding out 10% of the training sample must perturb at least one centroid")
  }

  test("q89: near-dup clusters never straddle splits; unclustered docs match q82") {
    val out = graft.operators.Dedup.clusterSafeSplit(spark, sf0001).collect()
    assert(out.exists(!_.isNullAt(1)), "fixture must contain near-dup clusters")
    out.filter(!_.isNullAt(1)).groupBy(_.getLong(1)).foreach { case (_, rs) =>
      assert(rs.map(_.getString(2)).distinct.length === 1,
        "every member of a near-dup cluster must share one split")
    }
    val q82 = graft.operators.TextAnalysis.leakageSafeSplit(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    out.filter(_.isNullAt(1)).foreach { r =>
      assert(r.getString(2) === q82(r.getLong(0)),
        "unclustered docs must fall back to exactly the q82 rule")
    }
  }

  test("label centroids: 10 labels x 64 dims, components bounded by max component") {
    val out = Similarity.labelCentroids(spark, sf0001).collect()
    assert(out.length === 640)
    out.foreach(r => assert(math.abs(r.getAs[Double]("centroid")) < 1.0))
  }

  test("q150: PQ codes are valid 4-bit words; ADC matches a driver recompute; model reloads bit-identically") {
    import org.apache.spark.sql.functions.col
    val cbs = Similarity.trainPqCodebooks(spark, sf0001)
    assert(cbs.length === Similarity.PqSubs &&
      cbs.forall(_.length === Similarity.PqCodes) &&
      cbs.forall(_.forall(_.length === Similarity.PqSubDim)))
    // model persistence: a fresh memory must RELOAD the identical model
    graft.sources.Tables.forget(Similarity.PqModels)
    val reloaded = Similarity.trainPqCodebooks(spark, sf0001)
    assert(reloaded.flatten.flatten.toSeq === cbs.flatten.flatten.toSeq,
      "persisted PQ model must reload bit-identically")
    val codes = Similarity.pqCodesTable(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    val nVecs = graft.sources.Tables.embeddings(spark, sf0001).count()
    assert(codes.size.toLong === nVecs, "every vector must encode")
    codes.values.foreach { cs =>
      assert(cs.length === Similarity.PqSubs)
      cs.foreach(c => assert(c >= 0 && c < Similarity.PqCodes, s"code out of range: $c"))
    }
    // codes must be the argmin of the shared distance kernel, and the
    // emitted ADC distance must equal a driver recompute from codes +
    // codebooks (the asymmetric-distance contract)
    val out = Similarity.pqAnnTopK(spark, sf0001).collect()
    assert(out.nonEmpty)
    val qe = graft.sources.Tables.embeddings(spark, sf0001)
      .where(col("vec_id") <= 4).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dist(x: Array[Double], u: Array[Double]): BigDecimal =
      x.zip(u).map { case (a, b) =>
        BigDecimal((a - b) * (a - b)).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      }.sum
    out.foreach { r =>
      val (q, n) = (r.getLong(0), r.getLong(1))
      val expected = (0 until Similarity.PqSubs).map { s =>
        val sub = qe(q).slice(s * Similarity.PqSubDim, (s + 1) * Similarity.PqSubDim)
        BigDecimal(dist(sub, cbs(s)(codes(n)(s))).toDouble)
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      assert(r.getDouble(2) === expected, s"ADC($q, $n) must match the driver recompute")
      assert(math.abs(r.getDouble(4)) <= 1.0 + 1e-9, "audit cosine must be a cosine")
    }
    // per query: ranks 1..5 with non-decreasing ADC distance
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq === (1L to 5L))
      assert(sorted.map(_.getDouble(2)).toSeq === sorted.map(_.getDouble(2)).sortBy(identity).toSeq)
    }
  }

  test("q151: IVFPQ = q150 ADC restricted to probed cells; index partition pruning is physical") {
    val out = Similarity.ivfPqTopK(spark, sf0001).collect()
    assert(out.nonEmpty)
    val nVecs = graft.sources.Tables.embeddings(spark, sf0001).count()
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(4)).sorted.toSeq === (1L to 5L))
      val scanned = rows.head.getLong(5)
      assert(rows.forall(_.getLong(5) === scanned))
      // the probe must actually prune: 4 of 16 cells scanned, so the
      // candidate count is far below the corpus
      assert(scanned < nVecs, s"n_scanned=$scanned must be < corpus=$nVecs")
      assert(rows.map(_.getLong(2)).distinct.length <= 4, "survivors span > nprobe cells")
    }
    // composition contract: on any (q, n) pair both queries emit, the
    // ADC distance must be IDENTICAL to q150's full-scan ADC (same
    // codes, same LUT — the IVF stage only restricts candidates)
    val full = Similarity.pqAnnTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val shared = out.filter(r => full.contains((r.getLong(0), r.getLong(1))))
    assert(shared.nonEmpty, "fixture should have overlap between IVFPQ and full-scan top-k")
    shared.foreach(r =>
      assert(r.getDouble(3) === full((r.getLong(0), r.getLong(1))),
        "IVFPQ ADC must equal full-scan ADC on shared pairs"))
    // physical pruning: a cell-filtered scan of the persisted index must
    // read ONLY the probed cells' partition files
    val idx = Similarity.ivfPqIndexTable(spark, sf0001)
    val files = idx.where(col("cell").isin(0, 1))
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty)
    assert(files.forall(f => f.contains("cell=0") || f.contains("cell=1")),
      s"cell filter must prune to cell=0/1 partition files, read: ${files.mkString(",")}")
  }

  test("q152: batch encodes against FROZEN corpus-only codebooks; recon matches driver recompute") {
    val out = Similarity.pqIncrementalEncode(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) % 10 === Similarity.BatchResidue, "only batch rows encode")
      assert(r.getString(1).matches("\\d+(-\\d+){7}"), s"codes shape: ${r.getString(1)}")
      assert(r.getDouble(2) >= 0.0, "reconstruction error is a squared distance")
    }
    // the frozen model must be the held-out one, not the full-corpus one
    val full = Similarity.trainPqCodebooks(spark, sf0001)
    val held = Similarity.trainPqCodebooks(spark, sf0001, corpusOnly = true)
    assert(full.flatten.flatten.toSeq !== held.flatten.flatten.toSeq,
      "holding out the batch must perturb at least one codeword")
    // driver recompute of one row: argmin codes + decimal recon against
    // the held-out codebooks (the shared distance kernel)
    val vecs = graft.sources.Tables.embeddings(spark, sf0001)
      .where(pmod(col("vec_id"), lit(10L)) === Similarity.BatchResidue)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dist(x: Array[Double], u: Array[Double]): Double =
      x.zip(u).map { case (a, b) =>
        BigDecimal((a - b) * (a - b)).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
    out.take(5).foreach { r =>
      val e = vecs(r.getLong(0))
      val perSub = (0 until Similarity.PqSubs).map { s =>
        val sub = e.slice(s * Similarity.PqSubDim, (s + 1) * Similarity.PqSubDim)
        val ds = (0 until Similarity.PqCodes).map(j => dist(sub, held(s)(j)))
        (ds.indexOf(ds.min), ds.min)
      }
      assert(r.getString(1) === perSub.map(_._1).mkString("-"), "codes must be the argmin")
      val recon = perSub.map(d => BigDecimal(d._2).setScale(12, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
      assert(r.getDouble(2) === recon, "recon_err must match the driver recompute")
    }
  }

  test("q153: rerank orders the ADC shortlist by exact cosine; promoted = rescued from outside ADC top-k") {
    val out = Similarity.ivfPqRerank(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(2)).sorted.toSeq === (1L to 5L))
      // exact rank order == descending cosine order
      val byRank = rows.sortBy(_.getLong(2))
      assert(byRank.map(_.getDouble(4)).toSeq === byRank.map(_.getDouble(4)).sortBy(-_).toSeq)
      // promoted is literally adc_rank > 5
      rows.foreach(r => assert(r.getBoolean(5) === (r.getLong(3) > 5L)))
      // every survivor came from the r=20 shortlist
      assert(rows.forall(_.getLong(3) <= 20L))
    }
    // the top-1 exact neighbor within the shortlist must agree with
    // brute-force truth whenever truth's #1 was among the candidates
    val cand = Similarity.ivfPqCandTable(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth1 = Similarity.knnBrute(spark, sf0001).collect()
      .filter(_.getLong(3) == 1L).map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.filter(_.getLong(2) == 1L).foreach { r =>
      val q = r.getLong(0)
      if (cand.contains((q, truth1(q))))
        assert(r.getLong(1) === truth1(q),
          s"q$q: exact rerank top-1 must equal brute truth when truth is a candidate")
    }
  }

  test("q154: recall numbers equal a driver-side set intersection of the two legs") {
    val out = Similarity.ivfPqRecall(spark, sf0001).collect()
    assert(out.map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L, 3L, 4L))
    val truth = Similarity.knnBrute(spark, sf0001).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val cand = Similarity.ivfPqCandTable(spark, sf0001).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(r => (r.getDouble(3), r.getLong(1))).take(5).map(_.getLong(1)).toSet
      }
    out.foreach { r =>
      val q = r.getLong(0)
      val hits = (truth(q) intersect cand(q)).size.toLong
      assert(r.getLong(1) === hits)
      assert(r.getDouble(2) === hits / 5.0)
    }
    // the audit has teeth on this fixture: some query must retrieve
    // something real (else the gate would pass on an all-zero column)
    assert(out.map(_.getLong(1)).sum > 0L, "IVFPQ recall is 0 across all queries")
  }

  test("q155: tombstones never surface; excluded counts match; ranks are dense over the live set") {
    val out = Similarity.ivfPqDeletes(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getLong(1) % 17 !== 3L, "a tombstoned vec_id surfaced"))
    val cand = Similarity.ivfPqCandTable(spark, sf0001).collect()
    val deadByQ = cand.groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.count(_.getLong(1) % 17 == 3).toLong }
    out.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.map(_.getLong(2)).sorted.toSeq === (1L to 3L))
      assert(rows.forall(_.getLong(4) === deadByQ(q)))
      // ranking over the live set = ADC order with tombstones removed
      val live = cand.filter(r => r.getLong(0) == q && r.getLong(1) % 17 != 3)
        .sortBy(r => (r.getDouble(3), r.getLong(1))).take(3).map(_.getLong(1)).toSeq
      assert(rows.sortBy(_.getLong(2)).map(_.getLong(1)).toSeq === live)
    }
    assert(deadByQ.values.sum > 0L, "fixture has no tombstoned candidates — the test is vacuous")
  }

  test("q159: v2 index = v1 minus flagged cells' tombstones, byte-identical codes; report is consistent") {
    val report = Similarity.ivfPqCompaction(spark, sf0001).collect()
    assert(report.nonEmpty)
    report.foreach { r =>
      assert(r.getDouble(3) === r.getLong(2).toDouble / r.getLong(1).toDouble)
      assert(r.getBoolean(4) === (r.getDouble(3) > 0.05))
    }
    val flagged = report.filter(_.getBoolean(4)).map(_.getLong(0)).toSet
    assert(flagged.nonEmpty, "no cell passed the compaction threshold — fixture is vacuous")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toList, r.getAs[Number](2).longValue)).toSet
    val v1 = rows(Similarity.ivfPqIndexTable(spark, sf0001))
    val v2 = rows(Similarity.ivfPqIndexV2(spark, sf0001))
    val expect = v1.filterNot { case (vid, _, cell) => flagged.contains(cell) && vid % 17 == 3 }
    assert(v2 === expect, "v2 must drop exactly the flagged cells' tombstones")
    // compacted cells are tombstone-free; uncompacted cells untouched
    assert(!v2.exists { case (vid, _, cell) => flagged.contains(cell) && vid % 17 == 3 })
    val keptCells = report.filterNot(_.getBoolean(4)).map(_.getLong(0)).toSet
    assert(v1.filter(r => keptCells.contains(r._3)) === v2.filter(r => keptCells.contains(r._3)))
  }

  test("q157: representatives are the per-cell decimal-score argmax members; sizes partition the corpus") {
    val out = Similarity.cellRepresentatives(spark, sf0001).collect()
    assert(out.nonEmpty)
    // driver recompute of the whole model application: decimal dot to
    // every trained centroid (dotDecPlane arithmetic), first-index
    // argmax assignment, per-cell top-3 by (score DESC, vec_id ASC)
    import java.math.{BigDecimal => JBD, RoundingMode}
    def dotDec(x: Array[Double], c: Array[Double]): Double = {
      var acc = JBD.ZERO; var i = 0
      while (i < x.length) {
        acc = acc.add(new JBD(x(i) * c(i)).setScale(12, RoundingMode.HALF_UP)); i += 1
      }
      acc.doubleValue()
    }
    val cents = Similarity.trainIvfCentroids(spark, sf0001)
    val assigned = graft.sources.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map { r =>
        val e = r.getSeq[Float](1).map(_.toDouble).toArray
        val scores = cents.map(dotDec(e, _))
        val cell = scores.indexOf(scores.max)
        (r.getLong(0), cell.toLong, scores(cell))
      }
    val expect = assigned.groupBy(_._2).toSeq.flatMap { case (cell, ms) =>
      ms.sortBy { case (id, _, s) => (-s, id) }.take(3).zipWithIndex
        .map { case ((id, _, s), i) => (cell, id, i + 1L, s, ms.length.toLong) }
    }.toSet
    val got = out.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toSet
    assert(got === expect)
    // sizes partition the corpus
    val sizes = out.map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(sizes.values.sum === assigned.length.toLong)
  }

  test("q149: quotient merge equals from-scratch CC; untouched clusters keep their labels") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val sf01 = "/root/testdata/sf0.1"
    val out = Dedup.incrementalClusters(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.nonEmpty)
    // independent from-scratch recompute IN SPARK: CC over (corpus
    // pairs ∪ the batch's probe edges) must reproduce the incremental
    // merge row for row — the in-suite twin of the DuckDB gate
    val cp = Dedup.corpusLshPairsTable(spark, sf01).select(col("d1"), col("d2"))
    val bc = Dedup.incrementalNearDupCandidatesOf(spark, sf01,
        graft.sources.Tables.documents(spark, sf01).where(pmod(col("doc_id"), lit(10)) === 9))
      .select(col("bd").as("d1"), col("cd").as("d2"))
    val (labels, converged, _) = Dedup.connectedComponents(
      cp.unionByName(bc).toDF("src", "dst"), Dedup.MaxCcIters)
    assert(converged)
    val scratch = labels.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(0) % 10 == 9)).toSet
    assert(out.toSet === scratch,
      "incremental quotient merge must equal the from-scratch clustering")
    // clusters the batch never touches must keep their exact labels
    val before = Dedup.corpusClusterLabels(spark, sf01).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val touchedComps = bc.collect().map(_.getLong(1))
      .flatMap(cd => before.get(cd).orElse(Some(cd))).toSet
    val after = out.map(r => r._1 -> r._2).toMap
    before.foreach { case (doc, comp) =>
      if (!touchedComps.contains(comp))
        assert(after(doc) === comp, s"untouched cluster $comp must keep doc $doc's label")
    }
    // at sf0.1 the merge genuinely rewrites state: some merged
    // component minimum is a batch doc
    assert(out.exists(r => !r._3 && r._2 % 10 == 9),
      "a corpus doc must end up labeled by a batch-doc minimum")
  }
}
