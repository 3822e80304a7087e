package graft

import graft.operators.{Profiling, Similarity, TextAnalysis}

/** q108 run-collapse, q109 column profile, q110 vocabulary growth —
  * driver-side recomputes on sf0.001 plus counted-plan shape pins (the
  * oracle gate re-checks all three at sf0.01 against DuckDB). */
class ProfilingSpec extends SparkSpec {

  private def docTokens(): Map[Long, Array[String]] =
    graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+", -1)).toMap

  test("q108: run collapse matches a driver-side recompute; fixture exercises real runs") {
    val toks = docTokens()
    // driver recompute: maximal runs via consecutive grouping
    def runs(t: Array[String]): Seq[(String, Int)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
      t.foreach { tok =>
        if (out.nonEmpty && out.last._1 == tok) out(out.size - 1) = (tok, out.last._2 + 1)
        else out += ((tok, 1))
      }
      out.toSeq
    }
    val out = TextAnalysis.runCollapse(spark, sf0001).collect()
    assert(out.length === toks.size)
    assert(out.map(_.getLong(0)).toSeq === out.map(_.getLong(0)).toSeq.sorted)
    out.foreach { r =>
      val id = r.getLong(0)
      val rs = runs(toks(id))
      val clean = rs.flatMap { case (tok, n) => Seq.fill(math.min(n, TextAnalysis.MaxRun))(tok) }
      assert(r.getLong(1) === toks(id).length.toLong, s"n_tokens($id)")
      assert(r.getLong(2) === clean.length.toLong, s"n_tokens_clean($id)")
      assert(r.getLong(3) === (toks(id).length - clean.length).toLong, s"n_dropped($id)")
      assert(r.getLong(4) === rs.count(_._2 > TextAnalysis.MaxRun).toLong, s"n_runs_collapsed($id)")
      assert(r.getLong(5) === rs.map(_._2).max.toLong, s"max_run($id)")
      assert(r.getString(6) === clean.mkString(" "), s"text_clean($id)")
    }
    // the fixture must exercise the operator, and a second application
    // must be a fixed point (no run survives longer than MaxRun)
    assert(out.exists(_.getLong(3) > 0), "fixture has no run > MaxRun — operator untested")
    out.foreach(r => assert(
      runs(r.getString(6).split("\\s+", -1)).forall(_._2 <= TextAnalysis.MaxRun),
      s"text_clean(${r.getLong(0)}) still has a run > MaxRun"))
  }

  test("q33/q34b counted: the plans r11's bench drift suspected are pinned") {
    // r11 timed q33 +47% / q34b +40% vs r10 on unchanged code; these pins
    // make "the plan changed" mechanically checkable so any future drift
    // adjudicates to the rig, not the engine (BASELINE.md round-12 note)
    val ex33 = shuffleExchanges(Similarity.knnBrute(spark, sf0001))
      .map(_.outputPartitioning.getClass.getSimpleName).sorted
    // broadcast query side -> the only shuffles are the per-query rank
    // window hash and the contract sort
    assert(ex33 === Seq("HashPartitioning", "RangePartitioning"),
      s"q33 exchange shapes: $ex33")
    val ex34 = shuffleExchanges(Similarity.embeddingNearDupPairsLsh(spark, sf0001))
      .map(_.outputPartitioning.getClass.getSimpleName).sorted
    // banded LSH: bucket groupBy hash + cross-band distinct hash + the
    // contract sort — candidate generation stays bucket-local
    assert(ex34 === Seq("HashPartitioning", "HashPartitioning", "RangePartitioning"),
      s"q34b exchange shapes: $ex34")
  }

  test("q108 counted: the rewrite is zero-shuffle — only the contract sort exchanges") {
    val ex = shuffleExchanges(TextAnalysis.runCollapse(spark, sf0001))
    assert(ex.size === 1, s"expected only the ORDER BY exchange, got ${ex.size}")
    assert(ex.head.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.RangePartitioning],
      "the single exchange must be the contract sort, not a hash shuffle")
  }

  test("q114: the SQL-text run collapse equals q108 row-for-row, same zero-shuffle plan") {
    val sql = graft.operators.PipelineSql.sqlRunCollapse(spark, sf0001)
    val viaSql = sql.collect().map(_.toSeq)
    val viaDf = TextAnalysis.runCollapse(spark, sf0001).collect().map(_.toSeq)
    assert(viaSql.toSeq === viaDf.toSeq, "one kernel definition, two API surfaces")
    val ex = shuffleExchanges(graft.operators.PipelineSql.sqlRunCollapse(spark, sf0001))
    assert(ex.size === 1 && ex.head.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.RangePartitioning],
      "the SQL surface must keep q108's zero-shuffle shape")
  }

  test("q109: column profile matches a driver-side recompute, modal tie-break largest-value") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("lang", "source", "n_chars").collect()
    def profile[T: Ordering](vals: Seq[T]): (Long, T, T, T, Long) = {
      val hist = vals.groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
      val (topV, topC) = hist.toSeq.maxBy { case (v, c) => (c, v) }(
        Ordering.Tuple2(Ordering.Long, implicitly[Ordering[T]]))
      (hist.size.toLong, vals.min, vals.max, topV, topC)
    }
    val out = Profiling.documentsProfile(spark, sf0001).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("lang", "n_chars", "source"))
    val cases: Seq[(String, (Long, String, String, String, Long))] = Seq(
      "lang" -> profile(docs.map(_.getString(0)).toSeq),
      "source" -> profile(docs.map(_.getString(1)).toSeq),
      "n_chars" -> {
        val (d, mn, mx, tv, tc) = profile(docs.map(_.getLong(2)).toSeq)
        (d, mn.toString, mx.toString, tv.toString, tc)
      })
    cases.foreach { case (name, (nDistinct, mn, mx, topV, topC)) =>
      val r = out(name)
      assert(r.getLong(1) === docs.length.toLong, s"n_rows($name)")
      assert(r.getLong(2) === 0L, s"n_nulls($name)")
      assert(r.getLong(3) === nDistinct, s"n_distinct($name)")
      assert(r.getString(4) === mn, s"min_val($name)")
      assert(r.getString(5) === mx, s"max_val($name)")
      assert(r.getString(6) === topV, s"top_val($name)")
      assert(r.getLong(7) === topC, s"top_cnt($name)")
    }
  }

  test("q111: token drift matches an exact rational recompute of |rate_b - rate_h|") {
    val toks = docTokens()
    val (batch, hist) = toks.partition { case (id, _) => id % 10 == 9 }
    val cb = batch.values.flatten.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val ch = hist.values.flatten.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val (nb, nh) = (cb.values.sum, ch.values.sum)
    val expect = (cb.keySet ++ ch.keySet).toSeq
      .map { t =>
        val (b, h) = (cb.getOrElse(t, 0L), ch.getOrElse(t, 0L))
        (t, b, h, (BigInt(b) * nh - BigInt(h) * nb).abs)
      }
      .sortBy { case (t, _, _, d) => (-d, t) }(Ordering.Tuple2(Ordering.BigInt, Ordering.String))
      .take(25)
    val out = TextAnalysis.tokenDrift(spark, sf0001).collect()
    assert(out.length === expect.length)
    out.zip(expect).foreach { case (r, (t, b, h, d)) =>
      assert(r.getString(0) === t)
      assert(r.getLong(1) === b && r.getLong(2) === h)
      assert(r.getLong(3) === nb && r.getLong(4) === nh)
      assert(BigInt(r.getString(5)) === d, s"drift($t)")
    }
    // the statistic is a real rate comparison: a token with equal rates
    // on both sides would score 0; the top row must score > 0
    assert(BigInt(out.head.getString(5)) > 0)
  }

  test("q111 incremental core: tokenDriftOf on the canonical batch reproduces the q111 report") {
    val canonical = graft.sources.Tables.documents(spark, sf0001)
      .where(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(10)) === 9)
    val inc = TextAnalysis.tokenDriftOf(spark, sf0001, canonical).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        BigInt(r.getString(5))))
    val batch = TextAnalysis.tokenDrift(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        BigInt(r.getString(5))))
    assert(inc.toSeq === batch.toSeq,
      "frozen-history incremental drift must equal the one-shot q111 report")
  }

  test("q109 counted: each per-column branch scans exactly its one column (pruned ReadSchema)") {
    val df = Profiling.documentsProfile(spark, sf0001)
    df.collect()
    val scans = allPlanNodes(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.requiredSchema.fieldNames.toSeq
    }
    assert(scans.nonEmpty)
    scans.foreach(cols => assert(cols.length === 1,
      s"a profile branch scans ${cols.mkString(",")} — pruning regressed"))
    assert(scans.flatten.toSet === Set("lang", "n_chars", "source"))
  }

  test("q113: incremental profile from merged histograms equals the one-shot q109 row-for-row") {
    val oneShot = Profiling.documentsProfile(spark, sf0001).collect().map(_.toSeq)
    val incremental = Profiling.documentsProfileIncremental(spark, sf0001).collect().map(_.toSeq)
    assert(incremental.toSeq === oneShot.toSeq,
      "merged batch+history histograms must profile identically to the union scan")
    // the parity is non-vacuous: the canonical batch is non-empty, so the
    // merge genuinely combined two sides
    val nBatch = graft.sources.Tables.documents(spark, sf0001)
      .where(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(10)) === 9).count()
    assert(nBatch > 0)
  }

  test("q112: embedding drift matches an exact fixed-point BigInt recompute per (label, dim)") {
    val rows = graft.sources.Tables.embeddings(spark, sf0001)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    // the operator's fixed-point encoding, exactly: float→double widen,
    // exact 1e12 multiply, floor — all IEEE-deterministic
    def fix(f: Float): BigInt = BigInt(math.floor(f.toDouble * 1e12).toLong)
    val byLabel = rows.groupBy(_._2)
    val expect = byLabel.toSeq.sortBy(_._1).map { case (label, vs) =>
      val (b, h) = vs.partition(_._1 % 10 == 9)
      val drifts = (0 until 64).map { d =>
        val sb = b.map(v => fix(v._3(d))).sum
        val sh = h.map(v => fix(v._3(d))).sum
        (d + 1, (sb * h.length - sh * b.length).abs)
      }
      val (topDim, topDrift) = drifts.maxBy { case (d, x) => (x, -d) }
      (label.toLong, b.length.toLong, h.length.toLong,
        drifts.map(_._2).sum, topDim.toLong, topDrift)
    }
    val out = Similarity.embeddingDrift(spark, sf0001).collect()
    assert(out.length === expect.length)
    out.zip(expect).foreach { case (r, (label, nb, nh, l1, topDim, topDrift)) =>
      assert(r.getLong(0) === label)
      assert(r.getLong(1) === nb && r.getLong(2) === nh)
      assert(BigInt(r.getString(3)) === l1, s"l1_drift($label)")
      assert(r.getLong(4) === topDim, s"top_dim($label)")
      assert(BigInt(r.getString(5)) === topDrift, s"top_dim_drift($label)")
    }
    assert(expect.exists(_._4 > 0), "fixture must show nonzero drift somewhere")
  }

  test("q112 on damaged input: null/empty vectors count toward label totals, all-null labels absent") {
    import spark.implicits._
    // label 1: two real vectors (one batch, one hist) + a null-embedding
    // hist vector + an empty-array batch vector; label 2: only a null
    // vector (the documented boundary: no dim cells -> absent)
    val raw = Seq(
      (10L, 1, Option(Seq(1.0f, 2.0f))),
      (19L, 1, Option(Seq(0.5f, 0.25f))),
      (20L, 1, Option.empty[Seq[Float]]),
      (29L, 1, Option(Seq.empty[Float])),
      (30L, 2, Option.empty[Seq[Float]]))
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.embeddingDriftOf(raw).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L), "all-null label 2 absent, label 1 present")
    val r = out.head
    // counts are RAW ROW counts: the null and empty vectors are members
    assert(r.getLong(1) === 2L && r.getLong(2) === 2L, "n_batch/n_hist include damaged rows")
    def fix(d: Double): BigInt = BigInt(math.floor(d * 1e12).toLong)
    val d1 = (fix(0.5) * 2 - fix(1.0) * 2).abs
    val d2 = (fix(0.25) * 2 - fix(2.0) * 2).abs
    assert(BigInt(r.getString(3)) === d1 + d2, "l1 over real cells, label-total counts")
    assert(r.getLong(4) === 2L && BigInt(r.getString(5)) === d2, "top dim = the bigger shift")
  }

  test("q124: dim health matches a fixed-point recompute; injected dead and zero dims flagged") {
    // corpus leg: exact recompute of every dim's fixed-point range
    val rows = graft.sources.Tables.embeddings(spark, sf0001)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    def fix(f: Float): Long = math.floor(f.toDouble * 1e12).toLong
    val expect = (0 until 64).map { d =>
      val vf = rows.map(r => fix(r(d)))
      val zeros = rows.count(r => r(d) == 0.0f).toLong
      ((d + 1).toLong, vf.min, vf.max, vf.max - vf.min, zeros, vf.min == vf.max)
    }
    val out = Similarity.embeddingDimHealth(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(out.toSeq === expect)
    // injected leg: a constant non-zero dim and an all-zero dim must
    // both read dead, the zero dim with full zero mass
    import spark.implicits._
    val damaged = Seq(
      Seq(0.5f, 0.0f, 1.0f), Seq(0.5f, 0.0f, -1.0f), Seq(0.5f, 0.0f, 0.25f))
      .toDF("embedding")
    val got = Similarity.embeddingDimHealthOf(damaged).collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getBoolean(5)))
    assert(got.toSeq === Seq((1L, 0L, true), (2L, 3L, true), (3L, 0L, false)))
  }

  test("q112 guard: a label at >= 1e7 vectors fails loudly instead of overflowing DECIMAL(38)") {
    import spark.implicits._
    val ok = Seq((1, 9999999L, 42L)).toDF("label", "n_batch", "n_hist")
    assert(Similarity.capLabelCounts(ok).collect().toSeq
      === Seq(org.apache.spark.sql.Row(1, 9999999L, 42L)))
    val over = Seq((7, 10000000L, 1L)).toDF("label", "n_batch", "n_hist")
    val e = intercept[Exception] {
      Similarity.capLabelCounts(over).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m => m.contains("shard the label") && m.contains("label 7")),
      s"guard must name the label and the remedy: ${messages(e).mkString(" | ")}")
  }

  test("q115: source drift matches an exact BigInt recompute; zero drift iff proportions match") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySrc = docs.groupBy(_._2)
    val nb = docs.count(_._1 % 10 == 9).toLong
    val nh = docs.length - nb
    val expect = bySrc.toSeq.sortBy(_._1).map { case (src, xs) =>
      val (b, h) = xs.partition(_._1 % 10 == 9)
      val (cb, ch) = (b.map(_._3).sum, h.map(_._3).sum)
      (src, b.length.toLong, h.length.toLong,
        (BigInt(b.length) * nh - BigInt(h.length) * nb).abs,
        (BigInt(cb) * h.length - BigInt(ch) * b.length).abs)
    }
    val out = TextAnalysis.sourceDrift(spark, sf0001).collect()
    assert(out.length === expect.length)
    out.zip(expect).foreach { case (r, (src, db, dh, share, len)) =>
      assert(r.getString(0) === src)
      assert(r.getLong(1) === db && r.getLong(2) === dh)
      assert(r.getLong(3) === nb && r.getLong(4) === nh)
      assert(BigInt(r.getString(5)) === share, s"share_drift($src)")
      assert(BigInt(r.getString(6)) === len, s"len_drift($src)")
    }
    // the statistic's zero point is exact proportionality, not near-zero
    assert(expect.exists(_._4 > 0), "fixture shows no source-mix shift — monitor untested")
  }

  test("q116: the monitor panel is exactly the three gated legs, long-format") {
    val panel = graft.operators.PipelineSql.monitorPanel(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        BigInt(r.getString(4))))
    // q111 lays out (tok, cnt_b, cnt_h, n_b, n_h, drift); q115 (source,
    // docs_b, docs_h, n_b, n_h, share_drift, len_drift); q112 (label,
    // n_b, n_h, l1_drift, top_dim, top_drift) — project each to the
    // panel's (item, batch_cnt, hist_cnt, drift) shape
    val tok = TextAnalysis.tokenDrift(spark, sf0001).collect()
      .map(r => ("token", r.getString(0), r.getLong(1), r.getLong(2),
        BigInt(r.getString(5)))).toSet
    val src = TextAnalysis.sourceDrift(spark, sf0001).collect()
      .map(r => ("source", r.getString(0), r.getLong(1), r.getLong(2),
        BigInt(r.getString(5)))).toSet
    val emb = Similarity.embeddingDrift(spark, sf0001).collect()
      .map(r => ("embedding", r.getLong(0).toString, r.getLong(1), r.getLong(2),
        BigInt(r.getString(3)))).toSet
    val panelSet = panel.toSet
    assert(panelSet.filter(_._1 == "token") === tok)
    assert(panelSet.filter(_._1 == "source") === src)
    assert(panelSet.filter(_._1 == "embedding") === emb)
    // ordered by (monitor, item), no duplicates
    assert(panel.map(r => (r._1, r._2)).toSeq === panel.map(r => (r._1, r._2)).toSeq.sorted)
    assert(panel.length === tok.size + src.size + emb.size)
  }

  test("drift monitors: counted exchanges pin the declared bounded-state scale shapes") {
    def shapes(name: String): (Seq[String], Int) = {
      val df = SparkEntry.queries(name)(spark, sf0001)
      val ex = shuffleExchanges(df).map(_.outputPartitioning.toString)
      val topk = allPlanNodes(df.queryExecution.executedPlan)
        .count(_.nodeName.contains("TakeOrderedAndProject"))
      (ex, topk)
    }
    // q111: ONE data-sized shuffle (tok-keyed histogram, map-side partial
    // pairs); totals reuse that exchange and finish on SinglePartition;
    // the top-25 is a TakeOrderedAndProject, never a full sort
    val (e111, t111) = shapes("q111_token_drift")
    assert(e111.length === 2
      && e111.count(_.startsWith("hashpartitioning(tok")) === 1
      && e111.count(_ == "SinglePartition") === 1, e111.toString)
    assert(t111 === 1, "q111's top-25 must plan as TakeOrderedAndProject")
    // q112: ONE embeddings scan — the (label, dim) histogram exchange
    // (counts ride it), the labels-sized fold, and the contract sort's
    // single-partition exchange (CollectedSort; no range exchange); every
    // data exchange label-keyed, nothing doc-keyed, no second scan
    val (e112, _) = shapes("q112_embedding_drift")
    assert(e112.length === 3
      && e112.count(_ == "SinglePartition") === 1
      && e112.count(_.startsWith("rangepartitioning")) === 0
      && e112.filter(_ != "SinglePartition").forall(_.contains("label")), e112.toString)
    // q115: ONE corpus scan — source-keyed shuffle + the single-partition
    // totals window over source-cardinality rows (a totals-crossJoin here
    // would defeat exchange reuse via column pruning and re-scan the
    // corpus; this count is the regression trip-wire for that)
    val (e115, _) = shapes("q115_source_drift")
    assert(e115.length === 2
      && e115.count(_.startsWith("hashpartitioning(source")) === 1
      && e115.count(_ == "SinglePartition") === 1, e115.toString)
    // q116: exactly the three legs' exchanges (2 + 3 + 2) plus the one
    // panel contract sort — the union materializes nothing of its own
    val (e116, t116) = shapes("q116_monitor_panel")
    assert(e116.length === 8, e116.toString)
    assert(t116 === 1, e116.toString)
  }

  test("q110: Heaps curves match a driver-side prefix-distinct recompute and are monotone") {
    val toks = docTokens()
    val maxDoc = toks.keys.max
    def grams(t: Array[String], g: Int): Seq[String] =
      if (g == 1) t.toSeq else t.toSeq.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
    val firstSeen: Map[(Long, String), Long] = toks.toSeq
      .flatMap { case (id, t) => Seq(1, 2).flatMap(g => grams(t, g).map(term => (g.toLong, term) -> id)) }
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).min }
    val hist = firstSeen.toSeq
      .groupBy { case ((g, _), id) => (g, id * 10 / (maxDoc + 1) + 1) }
      .map { case (k, xs) => k -> xs.size.toLong }
    val out = TextAnalysis.vocabGrowth(spark, sf0001).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq === hist.keys.toSeq.sorted)
    Seq(1L, 2L).foreach { g =>
      var cum = 0L
      out.filter(_.getLong(0) == g).foreach { r =>
        val (d, nt, vs) = (r.getLong(1), r.getLong(2), r.getLong(3))
        assert(nt === hist((g, d)), s"new_types($g, $d)")
        cum += nt
        assert(vs === cum, s"vocab_size($g, $d) not the running sum")
      }
      // the last checkpoint IS the corpus vocabulary — the one-scan claim
      assert(cum === firstSeen.keys.count(_._1 == g).toLong)
    }
    // the fixture must exercise a real curve: bigram types keep arriving
    // after decile 1 (the unigram curve saturating immediately is itself
    // the looping-generator signal the operator exists to expose)
    assert(out.count(_.getLong(0) == 2L) > 1, "bigram curve degenerate — fixture saturated")
    // and every decile is a genuine prefix-distinct: spot-check bigrams ≤ 5
    val prefixBigrams = toks.filter { case (id, _) => id * 10 / (maxDoc + 1) + 1 <= 5 }
      .values.flatMap(t => grams(t, 2)).toSet.size.toLong
    assert(out.filter(r => r.getLong(0) == 2L && r.getLong(1) <= 5L).map(_.getLong(2)).sum
      === prefixBigrams)
  }
}
