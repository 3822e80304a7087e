package graft

import org.apache.spark.sql.functions._

import graft.operators.{Snapshot, TextAnalysis}

/** q66 PII redaction + q67 snapshot diff — hand-computed expectations on
  * sf0.001 (the oracle gate re-checks both at sf0.01 against DuckDB). */
class PipelineOpsSpec extends SparkSpec {

  test("q66: injected PII is counted and fully redacted, class by class") {
    val out = TextAnalysis.piiRedaction(spark, sf0001)
      .select("doc_id", "n_emails", "n_ips", "n_phones", "redacted")
      .collect()
      .map(r => r.getLong(0) -> r)
      .toMap
    assert(out.nonEmpty)
    out.foreach { case (id, r) =>
      val (ne, ni, np, red) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      id % 4 match {
        case 0 => // email class; %8==0 carries a second address
          assert(ne === (if (id % 8 == 0) 2L else 1L) && ni === 0L && np === 0L)
          assert(red.contains("<EMAIL>") && !red.contains("@"))
        case 1 =>
          assert(ne === 0L && ni === 1L && np === 0L)
          assert(red.contains("from <IP> logged") && !red.contains("10."))
        case 2 =>
          assert(ne === 0L && ni === 0L && np === 1L)
          assert(red.contains("call <PHONE> today") && !red.contains("555-"))
        case _ =>
          assert(ne === 0L && ni === 0L && np === 0L)
          assert(!red.contains("<"))
      }
    }
  }

  test("q68: batch rows match a driver-side recomputation of the index probe") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), lower(regexp_replace(col("text"), "\\s+", " ")).as("norm"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val index = docs.filter(_._1 % 10 != 9).groupBy(_._2)
      .map { case (norm, xs) => norm -> xs.map(_._1).min }
    val out = graft.operators.Dedup.incrementalDedup(spark, sf0001).collect()
    assert(out.map(_.getLong(0)).toSet === docs.map(_._1).filter(_ % 10 == 9).toSet)
    val normById = docs.toMap
    out.foreach { r =>
      val (id, status) = (r.getLong(0), r.getString(2))
      index.get(normById(id)) match {
        case Some(keeper) => assert(status === "dup" && r.getLong(3) === keeper)
        case None         => assert(status === "new" && r.isNullAt(3))
      }
    }
  }

  test("longest_run expression is bit-identical to the HOF struct fold") {
    import org.apache.spark.sql.graft.ColumnBridge
    val hof =
      """aggregate(
        |  array_sort(a),
        |  struct(CAST(NULL AS STRING) AS prev, 0L AS run, 0L AS best_cnt, CAST(NULL AS STRING) AS best_tok),
        |  (s, t) -> CASE WHEN s.prev IS NOT NULL AND t = s.prev
        |    THEN struct(t AS prev, s.run + 1L AS run,
        |                IF(s.run + 1L > s.best_cnt, s.run + 1L, s.best_cnt) AS best_cnt,
        |                IF(s.run + 1L > s.best_cnt, t, s.best_tok) AS best_tok)
        |    ELSE struct(t AS prev, 1L AS run,
        |                IF(1L > s.best_cnt, 1L, s.best_cnt) AS best_cnt,
        |                IF(1L > s.best_cnt, t, s.best_tok) AS best_tok) END,
        |  s -> struct(s.best_cnt, s.best_tok))""".stripMargin
    val hand = Seq(
      Seq.empty[String],                 // -> (0, null)
      Seq("x"),                          // -> (1, x)
      Seq("b", "a", "b", "a"),           // tie -> lexicographically smallest: (2, a)
      Seq("z", "z", "z", "a", "a"))      // -> (3, z)
    import spark.implicits._
    val corpus = graft.sources.Tables.documents(spark, sf0001)
      .select(split(col("text"), "\\s+").as("a"))
      .union(hand.toDF("a"))
    val both = corpus.select(
      ColumnBridge.of(graft.functions.LongestRun(ColumnBridge.expr(col("a")))).as("native"),
      expr(hof).as("fold"))
    assert(both.count() === corpus.count())
    assert(both.where(not(col("native") <=> col("fold"))).count() === 0L)
  }

  test("q69: achieved per-stratum counts match a driver-side recompute of the hash cut") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "lang").collect().map(r => (r.getLong(0), r.getString(1)))
    def rate(lang: String) = lang match { case "en" => 30; case "zh" => 80; case _ => 60 }
    val expected = docs.filter { case (id, l) => (id * 1103515245L + 12345L) % 100 < rate(l) }
      .map(_._1).toSet
    val got = graft.operators.TextAnalysis.mixtureSample(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === expected)
    assert(got.nonEmpty && got.size < docs.length) // actually sampled, not all/none
  }

  test("q70: oov flags agree with a driver-side token-df model") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1).split("\\s+").toSeq))
    val df = docs.filter { case (id, _) => (id * 2654435761L) % 100 >= 20 }
      .flatMap { case (id, ts) => ts.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.size.toLong }
    val expected = docs.map { case (id, ts) =>
      id -> (ts.size.toLong,
        ts.count(t => df.getOrElse(t, 0L) < graft.operators.TextAnalysis.MinDf).toLong,
        ts.map(t => df.getOrElse(t, 0L)).sum)
    }.toMap
    val out = graft.operators.TextAnalysis.frequencyQuality(spark, sf0001).collect()
    assert(out.length === expected.size)
    out.foreach { r =>
      val (n, oov, s) = expected(r.getLong(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((n, oov, s)))
      assert(r.getDouble(4) === oov.toDouble / n)
    }
  }

  test("q71: two-phase prefix sum equals the naive global cumsum; packs are contiguous") {
    val out = graft.operators.TextAnalysis.sequencePacking(spark, sf0001).collect()
    // naive driver-side scan
    var cum = 0L
    val sorted = out.sortBy(_.getLong(0))
    sorted.foreach { r =>
      cum += r.getLong(1)
      assert(r.getLong(2) === cum, s"cum mismatch at doc ${r.getLong(0)}")
      assert(r.getLong(3) === (cum - r.getLong(1)) / graft.operators.TextAnalysis.PackBudget)
    }
    // pack ids are non-decreasing in doc order and start at 0
    assert(sorted.head.getLong(3) === 0L)
    assert(sorted.sliding(2).forall(w => w(0).getLong(3) <= w(1).getLong(3)))
  }

  test("q71: auto-stacked prefix sum: > width^2 rows through TWO offset levels, same answer") {
    // width 10 over 250 docs: 25 bucket totals > 10 -> a stacked level of 3
    // super-totals -> terminal window. Same recursion shape a 100 TB corpus
    // triggers at width 1000, without a million-row fixture.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stack").toString
    val docs = (0L until 250L).map(i => (i, Seq.fill((i % 7 + 1).toInt)("tok").mkString(" "), "en", "t", 1L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.TextAnalysis
      .sequencePackingWith(spark, dir, width = 10L, estDocs = 250L)
      .collect().sortBy(_.getLong(0))
    var cum = 0L
    out.foreach { r =>
      cum += r.getLong(1)
      assert(r.getLong(2) === cum, s"stacked cum mismatch at doc ${r.getLong(0)}")
    }
    assert(out.length === 250)
    // the recursion really stacked: depth for est=250, width=10 is
    // exclusive(26 est) -> exclusive(3 est, terminal) — two offset levels
    assert(250L / 10L + 1 > 10L && (250L / 10L + 1) / 10L + 1 <= 10L)
  }

  test("q75: BM25 top-10 matches a driver-side recompute of the integer scoring") {
    val out = TextAnalysis.bm25TopDocs(spark, sf0001).collect()
    assert(out.length === 10)
    assert(out.map(_.getAs[Long]("rank")).toSeq === (1L to 10L))
    val scores = out.map(_.getAs[Long]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "scores must be non-increasing")
    out.foreach(r => assert(
      r.getAs[Long]("n_terms_matched") >= 1L &&
      r.getAs[Long]("n_terms_matched") <= TextAnalysis.Bm25QueryTerms.length.toLong))

    // driver-side recompute of the full ranking from raw text
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split("\\s+").toSeq))
    val n = docs.length.toLong
    val totalDl = docs.map(_._2.length.toLong).sum
    val avgdlMil = totalDl * 1000L / n
    val terms = TextAnalysis.Bm25QueryTerms
    val df = terms.map(t => t -> docs.count(_._2.contains(t)).toLong).toMap
    val expect = docs.flatMap { case (id, toks) =>
      val dl = toks.length.toLong
      val ts = terms.flatMap { t =>
        val tf = toks.count(_ == t).toLong
        if (tf == 0) None else {
          val idf = (n + 1) * 1000000L / (df(t) + 1)
          val denom = 1000L * tf + 300L + (900L * dl * 1000L) / avgdlMil
          Some(idf * ((tf * 2200L * 1000L) / denom))
        }
      }
      if (ts.isEmpty) None else Some(id -> ts.sum)
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score"))).toSeq === expect.toSeq)
  }

  test("q76: repeated-span coverage matches a driver-side first-owner recompute") {
    val out = TextAnalysis.repeatedSpanCoverage(spark, sf0001).collect()
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split("\\s+").toSeq))
      .filter(_._2.length >= 8)
    val spans = docs.flatMap { case (id, toks) =>
      toks.sliding(8).map(g => (id, g.mkString(" "))).toSeq
    }
    val firstOwner = spans.groupBy(_._2).map { case (g, occ) => g -> occ.map(_._1).min }
    val expect = spans.groupBy(_._1).map { case (id, ss) =>
      val total = ss.length.toLong
      val rep = ss.count { case (_, g) => firstOwner(g) < id }.toLong
      (id, total, rep, rep * 1000L / total)
    }.toSeq.sortBy(_._1)
    val got = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expect)
    assert(out.exists(_.getAs[Long]("repeated_spans") > 0L), "fixture should contain cross-doc spans")
  }

  test("q100: SQL-text pipeline report is consistent with the DataFrame ops its views wrap") {
    import graft.operators.PipelineSql
    val out = PipelineSql.curationReport(spark, sf0001).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("n_docs")).sum === 500L, "every document lands in exactly one source row")
    out.foreach { r =>
      assert(r.getAs[Long]("n_final_keep") <= r.getAs[Long]("n_gate_keep"),
        "final keep is gated, so it can never exceed the gate-pass count")
      assert(r.getAs[Long]("n_final_keep") <= r.getAs[Long]("n_docs") - r.getAs[Long]("n_exact_dupes"),
        "final keepers are exact keepers")
    }
    // the BM25 arm contributes exactly the top-10 across all sources
    assert(out.map(_.getAs[Long]("n_bm25_top10")).sum === 10L)
    // per-source gate tallies re-derive from the DataFrame-side operator
    val gateKeep = TextAnalysis.curationGate(spark, sf0001).where(col("keep")).count()
    assert(out.map(_.getAs[Long]("n_gate_keep")).sum === gateKeep)
  }

  test("q101: SQL-text simhash pairs equal the DataFrame form row-for-row, at the same plan cost") {
    import graft.operators.{Dedup, PipelineSql}
    val sqlDf = PipelineSql.sqlSimhashNearPairs(spark, sf0001)
    val dfDf = Dedup.simhashNearPairs(spark, sf0001).select("d1", "d2", "hamming")
    val viaSql = sqlDf.collect().toSeq
    val viaDf = dfDf.collect().toSeq
    assert(viaSql === viaDf)
    assert(viaSql.nonEmpty, "fixture should contain hamming-near pairs")
    // the view/SQL boundary dissolves at analysis time: the text form must
    // not pay any exchange the DataFrame form doesn't (bucket groupBy,
    // pair distinct, final sort — and nothing else)
    def nExchanges(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.linesIterator.count(_.contains("Exchange"))
    assert(nExchanges(sqlDf) === nExchanges(dfDf))
  }

  test("q102: SQL-text brute knn equals the DataFrame q33 row-for-row, broadcast preserved") {
    import graft.operators.{PipelineSql, Similarity}
    val sqlDf = PipelineSql.sqlKnnBrute(spark, sf0001)
    val dfDf = Similarity.knnBrute(spark, sf0001)
    val viaSql = sqlDf.collect().toSeq
    val viaDf = dfDf.collect().toSeq
    assert(viaSql === viaDf)
    assert(viaSql.length === 25, "5 queries x top-5")
    // the text form must keep the DataFrame form's physical shape: the
    // tiny query side broadcast (never a shuffled join) and no extra
    // exchanges beyond the top-k window + final sort. Both forms join
    // (corpus, query) in that child order — the non-equi join plans as
    // BroadcastNestedLoopJoin and BuildRight pins WHICH side broadcasts:
    // the ≤5-row query set, never the corpus (the 100 TB contract; a
    // dropped hint that let Spark broadcast the corpus side would plan
    // BuildLeft and still pass a mere contains("BroadcastNestedLoopJoin"))
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    for (p <- Seq(plan(sqlDf), plan(dfDf)))
      assert(p.contains("BroadcastNestedLoopJoin BuildRight"),
        "the query side (right child) must be the broadcast build side")
    def nExchanges(df: org.apache.spark.sql.DataFrame) =
      plan(df).linesIterator.count(_.contains("Exchange"))
    assert(nExchanges(sqlDf) === nExchanges(dfDf))
  }

  test("q76/q88 read the ONE persisted span-digest table, never re-exploding the corpus") {
    // force the build once; afterwards every span consumer's plan must
    // scan the fingerprinted digest table instead of documents.parquet
    // (the compute-once contract that saves the duplicated span explosion
    // q76/q88/q98 each paid before round 7)
    assert(TextAnalysis.spanDigests(spark, sf0001).count() > 0L)
    for (df <- Seq(TextAnalysis.repeatedSpanCoverage(spark, sf0001),
                   TextAnalysis.crossSourceContamination(spark, sf0001),
                   TextAnalysis.evalContamination(spark, sf0001))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("span_digests_"), "span consumer must read the persisted digest table")
      assert(!plan.contains("documents.parquet"), "span consumer must not re-explode the corpus")
    }
  }

  test("q28/q99 read their persisted artifact tier, never re-exploding the corpus") {
    import graft.operators.Dedup
    // same compute-once contract as the span table, for the 3-gram
    // family — since r14 q28 reads the PAIR-STATS tier (the posting-list
    // expansion persisted one stage further down), while q99 still
    // probes the digest table for its exact-set recompute
    assert(Dedup.shingleDigests(spark, sf0001).count() > 0L)
    val q28plan = Dedup.nearDupJaccard(spark, sf0001).queryExecution.executedPlan.toString
    assert(q28plan.contains("pair_stats_"), "q28 must read the persisted pair-stats table")
    assert(!q28plan.contains("documents.parquet"), "q28 must not re-explode the corpus")
    val q99plan = Dedup.minhashCalibration(spark, sf0001).queryExecution.executedPlan.toString
    assert(q99plan.contains("shingle_digests_"), "q99 must read the persisted digest table")
    assert(!q99plan.contains("documents.parquet"), "q99 must not re-explode the corpus")
  }

  test("q77: RRF fusion matches a driver-side recompute of both arms") {
    import graft.operators.Similarity
    val out = Similarity.hybridRrfTopDocs(spark, sf0001).collect()
    assert(out.length === 10)
    assert(out.map(_.getAs[Long]("rank")).toSeq === (1L to 10L))
    // lexical arm: the q75 ranking at fusion depth
    val lex = TextAnalysis.bm25TopDocs(spark, sf0001, Similarity.RrfDepth).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank")).toMap
    // dense arm: exact-decimal cosine vs embedding 0, recomputed with the
    // same DECIMAL(18,12) fold as dotDec (per-product round to 12 dp, sum)
    def dotDec(a: Array[Float], b: Array[Float]): BigDecimal =
      a.zip(b).map { case (x, y) =>
        BigDecimal(x.toDouble * y.toDouble).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      }.sum.setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val embs = graft.sources.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val q0 = embs.find(_._1 == 0L).get._2
    val qn = math.sqrt(dotDec(q0, q0).toDouble)
    val dense = embs.filter(_._1 != 0L)
      .map { case (id, e) =>
        id -> dotDec(e, q0).toDouble / (math.sqrt(dotDec(e, e).toDouble) * qn)
      }
      .sortBy { case (id, cs) => (-cs, id) }.take(Similarity.RrfDepth)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val expect = (lex.keySet ++ dense.keySet).toSeq.map { id =>
      val s = lex.get(id).map(r => 1000000L / (Similarity.RrfK + r)).getOrElse(0L) +
        dense.get(id).map(r => 1000000L / (Similarity.RrfK + r)).getOrElse(0L)
      (id, s)
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    val got = out.map(r => (r.getAs[Long]("id"), r.getAs[Long]("rrf_score"))).toSeq
    assert(got === expect.toSeq)
    // per-row consistency: the fused score is exactly the sum of its terms
    out.foreach { r =>
      val l = Option(r.getAs[java.lang.Long]("lex_rank")).map(_.toLong)
      val d = Option(r.getAs[java.lang.Long]("dense_rank")).map(_.toLong)
      assert(l.isDefined || d.isDefined)
      val s = l.map(x => 1000000L / (Similarity.RrfK + x)).getOrElse(0L) +
        d.map(x => 1000000L / (Similarity.RrfK + x)).getOrElse(0L)
      assert(r.getAs[Long]("rrf_score") === s)
      l.foreach(x => assert(lex(r.getAs[Long]("id")) === x))
      d.foreach(x => assert(dense(r.getAs[Long]("id")) === x))
    }
  }

  test("q78: two-phase heavy hitters equals the naive exact threshold count") {
    val out = TextAnalysis.heavyHitterTokens(spark, sf0001).collect()
    val toks = graft.sources.Tables.documents(spark, sf0001)
      .select("text").collect().flatMap(_.getString(0).split("\\s+"))
    val total = toks.length.toLong
    val expect = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
      .filter { case (_, c) => c * TextAnalysis.HhK > total }
      .toSeq.sortBy { case (t, c) => (-c, t) }
    val got = out.map(r => (r.getAs[String]("token"), r.getAs[Long]("cnt"))).toSeq
    assert(got === expect.map { case (t, c) => (t, c) })
    out.foreach { r =>
      assert(r.getAs[Long]("total") === total)
      assert(r.getAs[Long]("share_permille") === r.getAs[Long]("cnt") * 1000L / total)
    }
    // the sketch must never lose a true heavy hitter (distribution-free
    // guarantee): equality above proves it on this corpus; non-emptiness
    // keeps the test honest if the fixture changes
    assert(out.nonEmpty)
  }

  test("q79: coverage curve matches a driver recompute; cumulative share is monotone to ~1000") {
    val out = TextAnalysis.sourceCoverage(spark, sf0001).collect()
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split("\\s+").length.toLong))
    val bySrc = docs.groupBy(_._1).map { case (s, v) => (s, v.length.toLong, v.map(_._2).sum) }
      .toSeq.sortBy { case (s, _, t) => (-t, s) }
    val grand = bySrc.map(_._3).sum
    var cum = 0L
    bySrc.zipWithIndex.foreach { case ((src, nd, tk), i) =>
      cum += tk
      val r = out(i)
      assert(r.getAs[Long]("rank") === i + 1L)
      assert(r.getAs[String]("source") === src)
      assert(r.getAs[Long]("n_docs") === nd)
      assert(r.getAs[Long]("tokens") === tk)
      assert(r.getAs[Long]("share_permille") === tk * 1000L / grand)
      assert(r.getAs[Long]("cum_permille") === cum * 1000L / grand)
    }
    assert(out.last.getAs[Long]("cum_permille") === 1000L)
  }

  test("q80: derived temperature rates and sampled mass match a driver recompute") {
    val out = TextAnalysis.temperatureMixture(spark, sf0001).collect()
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val counts = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val sumW = counts.values.map(c => math.sqrt(c.toDouble).toLong).sum
    val total = counts.values.sum
    val m = total / TextAnalysis.MixTargetDiv
    out.foreach { r =>
      val src = r.getAs[String]("source")
      val c = counts(src)
      val w = math.sqrt(c.toDouble).toLong
      val rate = math.min(1000L, 1000L * m * w / (sumW * c))
      assert(r.getAs[Long]("count_s") === c)
      assert(r.getAs[Long]("w") === w)
      assert(r.getAs[Long]("rate_permille") === rate)
      val kept = docs.filter(d => d._2 == src &&
        java.lang.Math.floorMod(d._1 * 2654435761L + 987654321L, 1000L) < rate)
      assert(r.getAs[Long]("n_sampled") === kept.length.toLong)
      assert(r.getAs[Long]("sampled_chars") === kept.map(_._3).sum)
    }
    // the α=0.5 reweighting must land the aggregate near the 20% target
    val sampled = out.map(_.getAs[Long]("n_sampled")).sum.toDouble
    assert(sampled / total > 0.1 && sampled / total < 0.35,
      s"sampled fraction ${sampled / total} drifted far from the 20% target")
  }

  test("q67: diff classifies inserts/deletes/updates and drops unchanged rows") {
    val rows = Snapshot.snapshotDiff(spark, sf0001).collect()
    val ids = graft.sources.Tables.events(spark, sf0001)
      .select("event_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    val expI = ids.filter(_ % 10 == 7)
    val expD = ids.filter(_ % 10 == 3)
    val expU = ids.filter(i => i % 10 != 7 && i % 10 != 3 && i % 5 == 0)
    val byChange = rows.groupBy(_.getString(1)).map { case (k, v) => k -> v.map(_.getLong(0)).toSet }
    assert(byChange.getOrElse("I", Set.empty) === expI)
    assert(byChange.getOrElse("D", Set.empty) === expD)
    assert(byChange.getOrElse("U", Set.empty) === expU)
    assert(rows.length === expI.size + expD.size + expU.size)
    rows.foreach { r =>
      r.getString(1) match {
        case "I" => assert(r.isNullAt(2) && !r.isNullAt(3))
        case "D" => assert(!r.isNullAt(2) && r.isNullAt(3))
        case "U" => assert(r.getDouble(3) === r.getDouble(2) + 1.0)
      }
    }
  }

  test("q82: split is a pure function of content; duplicates never straddle splits") {
    val out = TextAnalysis.leakageSafeSplit(spark, sf0001).collect()
    assert(out.nonEmpty)
    // structural guarantee: one split per content digest
    out.groupBy(_.getString(1)).foreach { case (_, rs) =>
      assert(rs.map(_.getString(2)).distinct.length === 1)
    }
    // the Spark conv(hex,16,10) path agrees with a JVM recompute of the cut
    out.foreach { r =>
      val hv = java.lang.Long.parseLong(r.getString(1).take(8), 16)
      val expected =
        if (hv % 100 < 80) "train" else if (hv % 100 < 90) "val" else "test"
      assert(r.getString(2) === expected, s"doc ${r.getLong(0)}")
    }
    val counts = out.groupBy(_.getString(2)).map { case (k, v) => k -> v.length }
    assert(counts.keySet === Set("train", "val", "test"))
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
  }

  test("q83: shards partition the corpus and pos is dense 1..n within each shard") {
    val out = TextAnalysis.shardManifest(spark, sf0001).collect()
    val n = graft.sources.Tables.documents(spark, sf0001).count()
    assert(out.length.toLong === n)
    assert(out.map(_.getLong(2)).distinct.length.toLong === n) // every doc exactly once
    out.foreach { r =>
      assert(r.getLong(0) === r.getLong(3) % TextAnalysis.NumShards) // shard = skey mod N
    }
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq === (1L to rs.length.toLong))
      // within a shard, pos order is (skey, doc_id) order
      val byPos = rs.sortBy(_.getLong(1)).map(r => (r.getLong(3), r.getLong(2)))
      assert(byPos.toSeq === byPos.sortBy(identity).toSeq)
    }
    // the row_number window must run per-shard (parallel), never globally
    val plan = TextAnalysis.shardManifest(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(shard"),
      "shard window must partition by shard, not run on one task")
  }

  test("q84: kept set is the maximal greedy prefix under the per-source token budget") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2).split("\\s+").length.toLong))
    // greedy prefix in hash order: running sum, keep while cum <= budget
    // (cum is monotone, so the kept set IS a prefix)
    val strict = docs.groupBy(_._1).toSeq.flatMap { case (_, ds) =>
      val ordered = ds.toSeq.sortBy { case (_, id, _) => ((id * 69621L + 3L) % 999959L, id) }
      val cums = ordered.scanLeft(0L) { case (acc, (_, _, nt)) => acc + nt }.tail
      ordered.zip(cums).filter(_._2 <= TextAnalysis.QuotaTokens).map(_._1._2)
    }.toSet
    val got = TextAnalysis.tokenBudgetQuota(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === strict)
    assert(got.nonEmpty && got.size < docs.length) // the budget actually cut something
    // the running-sum window must run per-source (parallel across domains)
    val plan = TextAnalysis.tokenBudgetQuota(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(source"),
      "quota window must partition by source, not run on one task")
  }

  test("q156: mixture rates match a driver recompute; the selection never overshoots the budget") {
    val out = TextAnalysis.sourceMixture(spark, sf0001).collect()
    assert(out.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split("\\s+", -1).length.toLong))
    val bySrc = docs.groupBy(_._1).map { case (s, ds) =>
      s -> (ds.length.toLong, ds.map(_._2).sum)
    }
    val total = bySrc.values.map(_._2).sum
    val nSrc = bySrc.size.toLong
    val alloc = (total / 2).toDouble / nSrc.toDouble
    assert(out.length === nSrc.toInt)
    out.foreach { r =>
      val (nd, nt) = bySrc(r.getString(0))
      assert(r.getLong(1) === nd)
      assert(r.getLong(2) === nt)
      assert(r.getDouble(3) === nt.toDouble / total.toDouble)
      assert(r.getDouble(4) === 1.0 / nSrc.toDouble)
      val rate = math.min(1.0, alloc / nt.toDouble)
      assert(r.getDouble(5) === rate)
      assert(r.getLong(6) === math.floor(rate * nt.toDouble).toLong)
      assert(r.getBoolean(7) === (alloc > nt.toDouble))
    }
    // shares partition the corpus; the clamped selection can't overshoot
    assert(math.abs(out.map(_.getDouble(3)).sum - 1.0) < 1e-9)
    assert(out.map(_.getLong(6)).sum <= total / 2)
    // rates actually subsample somewhere (budget = half the corpus)
    assert(out.exists(_.getDouble(5) < 1.0))
  }

  test("q161: epochs are capped ceil-division; effective tokens replay the exact decay formula") {
    val rows = TextAnalysis.epochPlan(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val totalU = rows.map(_.getLong(1)).sum
    val nSrc = rows.length.toLong
    val alloc = totalU * 2 / nSrc
    rows.foreach { r =>
      assert(r.getLong(2) === alloc, "uniform budget split")
      val u = r.getLong(1)
      val k = r.getLong(3)
      assert(k === math.min((alloc + u - 1) / u, TextAnalysis.MaxEpochs.toLong))
      // exact by construction: 2U and 2U / 2^k are both exact doubles
      val eff = 2.0 * u - 2.0 * u / (1L << k.toInt)
      assert(r.getDouble(4) === eff)
      val vr = r.getDouble(5)
      assert(math.abs(vr - eff / (k * u.toDouble)) < 1e-6)
      if (k === 1L) assert(vr === 1.0, "single epoch extracts full value")
      assert(vr > 0.0 && vr <= 1.0)
    }
    // budget = 2x the corpus forces repeats for below-average sources
    assert(rows.exists(_.getLong(3) > 1L), "no source repeats under a 2x budget")
  }

  test("q165: kept set replays from the survivor rule; shares partition both corpora") {
    val rows = TextAnalysis.postDedupMixture(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // driver replay of the dropped set: cluster members minus survivors
    val survivors = graft.operators.Dedup.dedupSurvivors(spark, sf0001)
      .select("survivor_doc_id").collect().map(_.getLong(0)).toSet
    val members = graft.operators.Dedup.nearDupLabels(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dropped = members -- survivors
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split("\\s+", -1).length.toLong))
    val bySrc = docs.groupBy(_._2)
    assert(rows.length === bySrc.size)
    val totRaw = docs.map(_._3).sum
    val totKept = docs.collect { case (id, _, t) if !dropped(id) => t }.sum
    rows.foreach { r =>
      val ds = bySrc(r.getString(0))
      val kept = ds.filterNot(d => dropped(d._1))
      assert(r.getLong(1) === ds.length.toLong)
      assert(r.getLong(2) === kept.length.toLong)
      assert(r.getLong(3) === ds.map(_._3).sum)
      assert(r.getLong(4) === kept.map(_._3).sum)
      assert(math.abs(r.getDouble(7) -
        (r.getLong(4).toDouble / totKept - r.getLong(3).toDouble / totRaw)) < 1e-6)
    }
    assert(math.abs(rows.map(_.getDouble(5)).sum - 1.0) < 1e-5)
    assert(math.abs(rows.map(_.getDouble(6)).sum - 1.0) < 1e-5)
    // dedup actually removes mass, and the shift is visible somewhere
    assert(dropped.nonEmpty && rows.exists(_.getDouble(7) != 0.0),
      "fixture carries no dedup-induced mixture shift")
  }

  test("q158: duplication fractions match a token-level driver recompute; the plan is shuffle-free") {
    val df = TextAnalysis.duplicationFractions(spark, sf0001)
    val out = df.collect()
    assert(out.nonEmpty)
    val byId = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+", -1).toSeq).toMap
    out.foreach { r =>
      val t = byId(r.getLong(0))
      assert(r.getLong(1) === t.length.toLong)
      assert(r.getLong(2) === t.distinct.length.toLong)
      assert(r.getDouble(3) === 1.0 - t.distinct.length.toDouble / t.length.toDouble)
      val tgs = t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
      val dup3 = tgs.groupBy(identity).values.map(_.length.toLong).filter(_ >= 2L).sum
      assert(r.getLong(4) === dup3)
      assert(r.getLong(5) === math.max(t.length - 2, 0).toLong)
      assert(r.getDouble(6) === dup3.toDouble / math.max(r.getLong(5), 1L).toDouble)
      assert(r.getBoolean(7) === (r.getDouble(6) > 0.50 || r.getDouble(3) > 0.90))
    }
    // teeth: the word-soup corpus must exhibit nonzero trigram repeats
    // somewhere without flagging every doc
    assert(out.exists(_.getLong(4) > 0L), "no doc has any repeated trigram — metric is vacuous")
    assert(!out.forall(_.getBoolean(7)), "every corpus doc flagged — thresholds are vacuous")
    // the scale claim: a pure scan→project pipeline, no shuffle before
    // the contract sort
    val ex = shuffleExchanges(df)
    assert(ex.size <= 1, s"q158 must be map-side (only the ORDER BY range exchange), got:\n${ex.mkString("\n")}")
  }

  test("q85: whole-bit surprisal matches a driver-side unigram model") {
    def bits(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split("\\s+").toSeq))
    val train = docs.filter { case (id, _) => (id * 2654435761L) % 100 >= 20 }
    val cnt = train.flatMap(_._2).groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val bitsTotal = bits(cnt.values.sum)
    val out = TextAnalysis.lmSurprisal(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size === docs.length)
    docs.foreach { case (id, toks) =>
      val expBits = toks.map(t => bitsTotal - bits(cnt.getOrElse(t, 1L))).sum
      val expOov = toks.count(t => !cnt.contains(t)).toLong
      val r = out(id)
      assert(r.getLong(1) === toks.length.toLong)
      assert(r.getLong(2) === expOov)
      assert(r.getLong(3) === expBits, s"doc $id")
      assert(r.getLong(4) === 100L * expBits / toks.length)
    }
  }

  test("q88: contamination matrix matches a driver-side recompute with the source cap") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split("\\s+").toSeq))
    val spanSources = docs.toSeq
      .flatMap { case (src, toks) =>
        if (toks.length < 8) Nil
        else toks.sliding(8).map(w => (src, w.mkString(" "))).toSeq
      }.distinct
    val nSpans = spanSources.groupBy(_._1).map { case (s, xs) => s -> xs.length.toLong }
    val expected = spanSources.groupBy(_._2).values
      .map(_.map(_._1).sorted)
      .filter(ss => ss.length >= 2 && ss.length <= TextAnalysis.MaxSpanSources)
      .flatMap(ss => ss.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val out = TextAnalysis.crossSourceContamination(spark, sf0001).collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSet === expected.keySet)
    out.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      assert(r.getAs[Long]("shared_spans") === expected(key))
      assert(r.getAs[Long]("n_spans_s1") === nSpans(r.getString(0)))
      assert(r.getAs[Long]("n_spans_s2") === nSpans(r.getString(1)))
      assert(r.getAs[Long]("overlap_permille") ===
        1000L * expected(key) / math.min(nSpans(r.getString(0)), nSpans(r.getString(1))))
    }
  }

  test("q90: gate verdicts match a driver-side recompute of all four signals") {
    def bits(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split("\\s+").toSeq))
    val train = docs.filter { case (id, _) => (id * 2654435761L) % 100 >= 20 }
    val cnt = train.flatMap(_._2).groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val df = train.flatMap { case (id, ts) => ts.distinct.map(t => (t, id)) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).distinct.length.toLong }
    val bitsTotal = bits(cnt.values.sum)
    val out = TextAnalysis.curationGate(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size === docs.length)
    docs.foreach { case (id, toks) =>
      val n = toks.length.toLong
      val topCnt = toks.groupBy(identity).values.map(_.size).max.toLong
      val oovPm = 1000L * toks.count(t => df.getOrElse(t, 0L) < TextAnalysis.MinDf) / n
      val bitsX100 = 100L * toks.map(t => bitsTotal - bits(cnt.getOrElse(t, 1L))).sum / n
      val mask = (if (n < TextAnalysis.GateMinTokens) 1L else 0L) +
        (if (topCnt * TextAnalysis.GateTopTokenDiv > n) 2L else 0L) +
        (if (oovPm > TextAnalysis.GateMaxOovPermille) 4L else 0L) +
        (if (bitsX100 > TextAnalysis.GateMaxBitsX100) 8L else 0L)
      val r = out(id)
      assert(r.getLong(2) === topCnt, s"doc $id top")
      assert(r.getLong(5) === mask, s"doc $id mask")
      assert(r.getBoolean(6) === (mask == 0L))
    }
    val verdicts = out.values.map(_.getBoolean(6)).toSeq
    assert(verdicts.contains(true) && verdicts.contains(false),
      "the gate must actually discriminate on the fixture")
  }

  test("q91: learned pair and merge counts match a driver-side BPE recompute") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val pairCounts = docs.flatMap(_._2.split("\\s+"))
      .filter(_.length >= 2)
      .flatMap(w => w.sliding(2))
      .groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
    val (topPair, topCnt) = pairCounts.toSeq.sortBy { case (p, c) => (-c, p) }.head
    def nonOverlapMerges(s: String): Long = {
      var i = 0; var n = 0L
      while (i >= 0) {
        i = s.indexOf(topPair, i)
        if (i >= 0) { n += 1; i += 2 } // left-to-right, non-overlapping
      }
      n
    }
    val out = TextAnalysis.bpeFirstMerge(spark, sf0001).collect()
    assert(out.length === docs.length)
    out.foreach { r =>
      assert(r.getString(1) === topPair)
      assert(r.getLong(2) === topCnt)
      val text = docs.find(_._1 == r.getLong(0)).get._2
      assert(r.getLong(3) === nonOverlapMerges(text), s"doc ${r.getLong(0)}")
      assert(r.getLong(5) === text.length.toLong - r.getLong(3))
    }
    assert(out.exists(_.getLong(3) > 0), "the learned pair must occur somewhere")
  }

  /** Shared fixture + preconditions for the q103 recompute tests. The
    * BMP-only check makes the JVM recompute sound: with no astral-plane
    * characters, `String#length`/`sliding(2)` (UTF-16 units) coincide
    * with the code-point counting Spark/DuckDB `length()` uses, so the
    * recompute can't silently diverge on a future fixture change. */
  private def bpeDocs(): Array[(Long, String)] = {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val syms = TextAnalysis.BpeMergeSyms
    // precondition the merge encoding relies on: the reserved one-char
    // symbols (U+0100..) are fresh — they appear nowhere in the corpus
    assert(docs.forall { case (_, t) => syms.forall(s => !t.contains(s)) },
      "corpus must not contain the reserved merge symbols")
    assert(docs.forall { case (_, t) => t.codePointCount(0, t.length) == t.length },
      "corpus must be BMP-only: the driver-side recompute counts UTF-16 units")
    docs
  }

  /** Driver-side replay of the [[TextAnalysis.bpeLearn]] chain: learned
    * (pair, count) per iteration, per-doc merge counts per iteration,
    * and the final working corpus. Mirrors the dry-up semantics (no
    * eligible pair → learning stops permanently). */
  private def bpeRecompute(docs: Array[(Long, String)], iters: Int)
      : (Seq[(String, Long)], Seq[Map[Long, Long]], Map[Long, String]) = {
    val syms = TextAnalysis.BpeMergeSyms
    var cur = docs.toMap
    val expected = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val mergesPerDoc = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Long]]
    (0 until iters).foreach { i =>
      val counts = cur.values.flatMap(_.split("\\s+")).filter(_.length >= 2)
        .flatMap(w => w.sliding(2))
        .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
      if (counts.nonEmpty) {
        val (p, c) = counts.toSeq.sortBy { case (pp, cc) => (-cc, pp) }.head
        expected += ((p, c))
        // java.lang.String#replace is left-to-right non-overlapping — the
        // exact semantics the length arithmetic encodes on both engines
        val next = cur.map { case (id, t) => id -> t.replace(p, syms(i)) }
        mergesPerDoc += cur.map { case (id, t) => id -> (t.length - next(id).length).toLong }
        cur = next
      }
    }
    (expected.toSeq, mergesPerDoc.toSeq, cur)
  }

  test("q103: three-iteration BPE matches a driver-side recompute of the whole merge chain") {
    val docs = bpeDocs()
    val (expected, mergesPerDoc, cur) = bpeRecompute(docs, TextAnalysis.BpeIters)
    assert(expected.map(_._1).distinct.length === TextAnalysis.BpeIters,
      "each iteration must learn a distinct pair")
    val out = TextAnalysis.bpeTrain(spark, sf0001).collect()
    assert(out.length === docs.length)
    out.foreach { r =>
      val id = r.getLong(0)
      (0 until TextAnalysis.BpeIters).foreach { i =>
        assert(r.getString(1 + 2 * i) === expected(i)._1, s"pair_${i + 1}")
        assert(r.getLong(2 + 2 * i) === expected(i)._2, s"cnt_${i + 1}")
        assert(r.getLong(7 + i) === mergesPerDoc(i)(id), s"doc $id n_merges_${i + 1}")
      }
      assert(r.getLong(10) === docs.find(_._1 == id).get._2.length.toLong)
      assert(r.getLong(11) === cur(id).length.toLong)
    }
    // the chain must actually iterate: later merges fire on the corpus too
    assert(out.exists(_.getLong(8) > 0) && out.exists(_.getLong(9) > 0))
  }

  test("q117: per-source fertility matches the driver-side replay of the merge chain") {
    val docs = bpeDocs()
    val (_, _, finalCorpus) = bpeRecompute(docs, TextAnalysis.BpeIters)
    val srcOf = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    def symbols(t: String): Long = t.replaceAll("\\s+", "").length.toLong
    // limit -1: Spark's size(split) keeps trailing empty tokens
    def words(t: String): Long = t.split("\\s+", -1).length.toLong
    val rawBySrc = docs.groupBy { case (id, _) => srcOf(id) }
    val expect = finalCorpus.toSeq.groupBy { case (id, _) => srcOf(id) }
      .toSeq.sortBy(_._1).map { case (src, xs) =>
        val w = xs.map { case (_, t) => words(t) }.sum
        val enc = xs.map { case (_, t) => symbols(t) }.sum
        val raw = rawBySrc(src).map { case (_, t) => symbols(t) }.sum
        (src, xs.size.toLong, w, raw, enc, 1000L * enc / w, 1000L * enc / raw)
      }
    val out = TextAnalysis.bpeFertility(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.toSeq === expect)
    // the learned merges must actually compress somewhere, or the
    // fertility report is vacuous on this fixture
    assert(expect.exists { case (_, _, _, raw, enc, _, _) => enc < raw })
  }

  test("q118: rejection breakdown is exactly q90's verdicts cross-tabbed by source") {
    val verdicts = TextAnalysis
      .curationGateOf(spark, sf0001, graft.sources.Tables.documents(spark, sf0001))
      .select("doc_id", "fail_mask").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val srcOf = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val perSrc = verdicts.groupBy { case (id, _) => srcOf(id) }
    val expect = perSrc.toSeq.flatMap { case (src, xs) =>
      xs.groupBy(_._2).toSeq.map { case (mask, ys) =>
        (src, mask, ys.length.toLong, xs.length.toLong,
          1000L * ys.length / xs.length)
      }
    }.sortBy { case (s, m, _, _, _) => (s, m) }
    val out = TextAnalysis.rejectionBreakdown(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq === expect)
    // non-vacuous: more than one distinct gate fires on the fixture, and
    // per-source mask counts reconstruct each source's doc total
    assert(out.map(_._2).distinct.length > 1)
    out.groupBy(_._1).foreach { case (src, rows) =>
      assert(rows.map(_._3).sum === rows.head._4, s"mask counts must sum to $src's docs")
    }
  }

  test("q122: annealing ladder matches a driver recompute; skewed fixture shows the ladder") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def recompute(ds: Seq[(Long, String, Long)]): Seq[(Long, String, Long, Long, Long, Long, Long)] = {
      val counts = ds.groupBy(_._2).map { case (src, xs) => src -> xs.length.toLong }
      (1L to 3L).flatMap { epoch =>
        val w = counts.map { case (src, c) =>
          src -> (epoch match {
            case 1L => c
            case 2L => math.floor(math.sqrt(c.toDouble)).toLong
            case _ => 1L
          })
        }
        val sumW = w.values.sum
        val total = counts.values.sum
        counts.toSeq.sortBy(_._1).flatMap { case (src, c) =>
          val rate = math.min(1000L, 1000L * (total / TextAnalysis.MixTargetDiv) * w(src) / (sumW * c))
          val drawn = ds.filter { case (id, sc, _) =>
            sc == src &&
              Math.floorMod(id * 2654435761L + 987654321L + epoch * TextAnalysis.AnnealEpochSalt,
                1000L) < rate
          }
          if (drawn.isEmpty) None
          else Some((epoch, src, c, w(src), rate, drawn.length.toLong, drawn.map(_._3).sum))
        }
      }
    }
    val out = TextAnalysis.annealedMixture(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    assert(out.toSeq === recompute(docs.toSeq))
    // the ladder property needs SKEW: the graded corpus's source marginal
    // is perfectly uniform (every epoch weighting collapses to one rate),
    // so drive a 200/20/2-doc fixture through the injectable core
    import spark.implicits._
    val skewed = (
      (0L until 200L).map(i => (i, "big", 10L)) ++
      (0L until 20L).map(i => (1000L + i, "mid", 10L)) ++
      (0L until 2L).map(i => (2000L + i, "rare", 10L))).toSeq
    val got = TextAnalysis.annealedMixtureOf(skewed.toDF("doc_id", "source", "n_chars"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    assert(got.toSeq === recompute(skewed))
    val rate = recompute(skewed).map(r => (r._1, r._2) -> r._5).toMap
    // uniform epoch upweights the rare source and downweights the big one
    assert(rate((3L, "rare")) > rate((1L, "rare")),
      "uniform epoch must upweight the rarest source")
    assert(rate((3L, "big")) < rate((1L, "big")),
      "uniform epoch must downweight the dominant source")
  }

  test("q129: DSIR weights match a driver recompute; kept mixture shifts toward the target") {
    import spark.implicits._
    // three populations: the declared target slice, raw docs sharing the
    // target's vocabulary, raw docs from a disjoint vocabulary — the
    // selection must keep target-like docs and drop off-target ones
    val tgtText = Seq.fill(4)("alpha beta gamma delta epsilon").mkString(" ")
    val offText = Seq.fill(4)("omega sigma tau rho kappa").mkString(" ")
    val fixture =
      (0L until 30L).map(i => (i, "tgt", tgtText)) ++
      (0L until 100L).map(i => (1000L + i, "likeA", tgtText)) ++
      (0L until 100L).map(i => (2000L + i, "offB", offText))
    // driver recompute of the full integer pipeline (md5 bucket hash,
    // smoothed cross-multiplied ratio, mean weight, hash keep cut)
    def bucketOf(f: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % TextAnalysis.DsirBuckets
    }
    def feats(text: String): Seq[Long] = {
      val ts = text.split("\\s+", -1).toSeq
      (ts ++ ts.zip(ts.drop(1)).map { case (a, b) => s"$a $b" }).map(bucketOf)
    }
    val occ = fixture.flatMap { case (id, lang, text) => feats(text).map(b => (id, lang, b)) }
    val dR = occ.size.toLong
    val dT = occ.count(_._2 == "tgt").toLong
    val B = TextAnalysis.DsirBuckets.toLong
    val wOf = occ.groupBy(_._3).map { case (b, xs) =>
      val cR = xs.size.toLong
      val cT = xs.count(_._2 == "tgt").toLong
      b -> (BigInt(1000) * BigInt(cT + 1) * BigInt(dR + B) /
        (BigInt(cR + 1) * BigInt(dT + B))).toLong
    }
    val perDoc = fixture.map { case (id, lang, text) =>
      val ws = feats(text).map(wOf)
      val w = math.min(TextAnalysis.DsirCapPermille, ws.sum / ws.length)
      val kept = Math.floorMod(Math.floorMod(id, 1000000L) * 1597334677L + 7L, 1000000L) <
        w * TextAnalysis.DsirBudgetPermille
      (id, lang, w, kept)
    }
    val expect = perDoc.groupBy(_._2).toSeq.map { case (lang, xs) =>
      val kept = xs.filter(_._4)
      (lang, lang == "tgt", xs.size.toLong, kept.size.toLong,
        1000L * kept.size / xs.size, xs.map(_._3).sum / xs.size,
        if (kept.isEmpty) 0L else kept.map(_._3).sum / kept.size)
    }.sortBy(_._1)
    val got = TextAnalysis.dsirSampleOf(
      fixture.toDF("doc_id", "lang", "text"), org.apache.spark.sql.functions.col("lang") === "tgt")
      .collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq === expect)
    // the selection property itself: target-vocabulary docs keep at a far
    // higher rate and weight than off-vocabulary docs — the kept mixture
    // SHIFTS toward the declared target distribution
    val byLang = got.map(r => r._1 -> r).toMap
    assert(byLang("likeA")._5 > 2 * byLang("offB")._5,
      "target-like docs must be kept at a much higher rate than off-target docs")
    assert(byLang("likeA")._6 > byLang("offB")._6,
      "target-like docs must carry higher importance weights")
    assert(byLang("offB")._5 < TextAnalysis.DsirBudgetPermille,
      "off-target docs must be kept below the neutral budget rate")
    assert(byLang("likeA")._4 > 0 && byLang("tgt")._4 > 0, "selection must be non-empty")
  }

  test("q132: k-anonymity audit matches a driver recompute; flags and corpus k are consistent") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("source", "lang", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val expect = docs.groupBy { case (s, l, n) =>
      (s, l, n / TextAnalysis.KAnonLenBucket * TextAnalysis.KAnonLenBucket)
    }.map { case ((s, l, b), xs) => (s, l, b, xs.length.toLong) }.toSeq
    val corpusK = expect.map(_._4).min
    val out = TextAnalysis.kAnonymityAudit(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getLong(5)))
    assert(out.map(t => (t._1, t._2, t._3, t._4)).toSeq ===
      expect.sortBy(t => (t._1, t._2, t._3)))
    out.foreach { t =>
      assert(t._5 === (t._4 < TextAnalysis.KAnonK), s"below_k flag wrong for $t")
      assert(t._6 === corpusK, s"corpus_k must be the global min group size")
    }
    // the screen is non-vacuous on the fixture: both flag values occur
    assert(out.exists(_._5) && out.exists(!_._5))
  }

  test("q136: fertility table matches a driver recompute from per-token piece counts") {
    import org.apache.spark.sql.functions._
    val m = TextAnalysis.unigramLearn(spark, sf0001, 1)
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val hist = docs.select(explode(split(col("text"), "\\s+")).as("w"))
      .where(length(col("w")).between(1, TextAnalysis.UniMaxTokenLen))
      .groupBy("w").agg(count(lit(1)).as("wcnt"))
    val pieceOf = TextAnalysis.uniPieceCounts(hist, m.costsF).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val toks = docs.select("source", "text").collect()
      .flatMap(r => r.getString(1).split("\\s+", -1).map(w => (r.getString(0), w)))
    val expect = toks.groupBy(_._1).toSeq.map { case (src, xs) =>
      val in = xs.map(_._2).filter(w => w.length >= 1 && w.length <= TextAnalysis.UniMaxTokenLen)
      val nEx = (xs.length - in.length).toLong
      val pieces = in.map(pieceOf).sum
      val chars = in.map(_.length.toLong).sum
      (src, in.length.toLong, nEx, pieces, chars,
        1000 * pieces / in.length, 1000 * pieces / chars)
    }.sortBy(_._1)
    val got = TextAnalysis.unigramFertility(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    assert(got.toSeq === expect)
    // the trained vocab actually compresses: fewer pieces than chars,
    // and multi-char pieces fire (fertility under chars-per-word)
    got.foreach { r => assert(r._4 < r._5, s"pieces must undercut chars for ${r._1}") }
    assert(pieceOf.values.exists(_ > 1) && pieceOf.exists { case (w, p) => p < w.length })
  }

  test("q130: unrolled Viterbi picks the min-cost segmentation, longest piece on ties") {
    import spark.implicits._
    val hist = Seq(("abab", 5L), ("cab", 2L)).toDF("w", "wcnt")
    // 'ab' at cost 4 beats a+b at 3+3: "abab" -> [ab, ab]; "cab" -> [c, ab]
    val costs = Seq("a" -> 3L, "b" -> 3L, "c" -> 3L, "ab" -> 4L)
    val got = TextAnalysis.uniSegmentCounts(hist, costs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq === Seq(("ab", 12L, 2L), ("c", 2L, 1L)))
    // exact tie between [ab] (cost 6) and [a, b] (3+3): the LONGEST piece
    // must win at the deciding boundary
    val tied = TextAnalysis.uniSegmentCounts(
      Seq(("ab", 1L)).toDF("w", "wcnt"), Seq("a" -> 3L, "b" -> 3L, "ab" -> 6L)).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(tied.toSeq === Seq(("ab", 1L)))
    // a piece not in the vocabulary can never be used; singles cover
    val noAb = TextAnalysis.uniSegmentCounts(
      Seq(("ab", 3L)).toDF("w", "wcnt"), Seq("a" -> 1L, "b" -> 9L)).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(noAb.toSeq === Seq(("a", 3L), ("b", 3L)))
  }

  test("q130/q131: EM prune keeps top used pieces; job count is linear in iterations") {
    // one extra EM iteration = one extra segmentation aggregate + bounded
    // model fetch: the job-count step must be flat (the q103 pin)
    def jobsFor(group: String)(body: => Unit): Int = {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      try body finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    }
    // clear the memoized histogram before EACH run so every measurement
    // pays the same fixed setup and only the per-iteration delta varies
    graft.sources.Tables.forget(TextAnalysis.PersistedModels, TextAnalysis.UnigramModels)
    val j1 = jobsFor("uni-1") { TextAnalysis.unigramLearn(spark, sf0001, 1) }
    graft.sources.Tables.forget(TextAnalysis.PersistedModels, TextAnalysis.UnigramModels)
    val j2 = jobsFor("uni-2") { TextAnalysis.unigramLearn(spark, sf0001, 2) }
    graft.sources.Tables.forget(TextAnalysis.PersistedModels, TextAnalysis.UnigramModels)
    val j3 = jobsFor("uni-3") { TextAnalysis.unigramLearn(spark, sf0001, 3) }
    assert(j2 - j1 === j3 - j2,
      s"per-EM-iteration job count must be flat: $j1/$j2/$j3")
    assert(j2 - j1 >= 1 && j2 - j1 <= 3,
      s"one EM iteration should add 1-3 jobs, added ${j2 - j1}")
    // model invariants at depth 2: singles never pruned, multi bounded,
    // final vocab = singles + kept multi, used counts positive
    val m = TextAnalysis.unigramLearn(spark, sf0001, 2)
    val singles = m.vocab0.filter(_._1.length == 1).map(_._1).toSet
    assert(m.keptMulti.size <= TextAnalysis.UniVocabK)
    assert(m.keptMulti.forall(_.length >= 2))
    assert(m.vocabF.map(_._1).toSet === singles ++ m.keptMulti)
    assert(m.vocabF.forall(_._2 >= 1L))
    // the encode report covers exactly the final vocabulary
    val enc = TextAnalysis.unigramEncode(spark, sf0001).collect()
    val mDefault = TextAnalysis.unigramLearn(spark, sf0001, 1)
    assert(enc.map(_.getString(0)).toSet ===
      mDefault.vocabF.map(_._1).toSet)
    assert(enc.map(_.getLong(3)).sum > 0, "encode must place pieces")
  }

  test("q126: retrieval eval matches a driver recompute of strict-AND relevance over q75's list") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split("\\s+", -1).toSet))
    val terms = TextAnalysis.Bm25QueryTerms.toSet
    val relOf = docs.map { case (id, toks) => id -> terms.subsetOf(toks) }.toMap
    val totalRel = relOf.values.count(identity).toLong
    val top = TextAnalysis.bm25TopDocs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = top.scanLeft((0L, 0L, false, 0L)) { case ((_, _, _, cum), (rnk, id)) =>
      val rel = relOf(id)
      (rnk, id, rel, cum + (if (rel) 1L else 0L))
    }.drop(1).map { case (rnk, id, rel, cum) =>
      (rnk, id, rel, cum, 1000L * cum / rnk, totalRel,
        if (totalRel == 0) null else 1000L * cum / totalRel)
    }
    val out = TextAnalysis.retrievalEval(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3), r.getLong(4),
        r.getLong(5), if (r.isNullAt(6)) null else r.getLong(6)))
    assert(out.toSeq === expect.toSeq)
    // the eval is non-vacuous: the corpus holds relevant docs, and
    // precision@k is a real measurement (between 0 and 1000)
    assert(totalRel > 0)
    assert(out.forall(r => r._5 >= 0L && r._5 <= 1000L))
  }

  test("q127: shard checksums match a driver recompute; a content edit moves exactly one row") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def hv(t: String): Long = {
      // exactly q82's normalization: collapse \s+ runs, lowercase — no
      // trim; Locale.ROOT so a tr_TR-default JVM can't fold 'I' differently
      // from Spark's locale-independent ASCII lower
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(t.replaceAll("\\s+", " ").toLowerCase(java.util.Locale.ROOT)
          .getBytes("UTF-8"))
      // first 8 hex digits as an integer — q82's fold
      java.lang.Long.parseLong(md5.take(4).map(b => f"$b%02x").mkString, 16)
    }
    def table(ds: Seq[(Long, String)]): Map[Long, (Long, Long, Long, Long, Long)] =
      ds.map { case (id, t) =>
        val skey = Math.floorMod(id * 48271L + 11L, 999983L)
        (Math.floorMod(skey, TextAnalysis.NumShards), id, t)
      }.groupBy(_._1).map { case (shard, xs) =>
        shard -> (xs.size.toLong,
          xs.map { case (_, _, t) => t.split("\\s+", -1).length.toLong }.sum,
          xs.map { case (_, _, t) => hv(t) }.sum,
          xs.map(_._2).min, xs.map(_._2).max)
      }
    // corpus precondition the whole oracle surface shares: Java \s
    // matches vertical tab, RE2's does not — the engines agree only
    // while the fixture contains none (the BMP-only assertion's twin)
    assert(docs.forall { case (_, t) => !t.contains('\u000B') },
      "corpus must not contain vertical tabs: Java and RE2 \\s dialects diverge there")
    val expect = table(docs.toSeq)
    val out = TextAnalysis.shardChecksums(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(out === expect)
    assert(out.values.map(_._1).sum === docs.length.toLong, "shards must partition the corpus")
    // the integrity claim, executed: editing ONE doc's content changes
    // exactly that doc's shard checksum and nothing else
    val (editId, editText) = docs.head
    val edited = table(docs.toSeq.map { case (id, t) =>
      if (id == editId) (id, t + " tampered") else (id, t)
    })
    val editShard = Math.floorMod(Math.floorMod(editId * 48271L + 11L, 999983L),
      TextAnalysis.NumShards)
    assert(edited(editShard)._3 !== expect(editShard)._3, "tampering must move the checksum")
    (expect.keySet - editShard).foreach(sh => assert(edited(sh) === expect(sh)))
    val _ = editText
  }

  test("q123: Zipf audit matches an exact recompute; coverage is monotone to full vocabulary") {
    val toks = graft.sources.Tables.documents(spark, sf0001)
      .select("text").collect().flatMap(r => r.getString(0).split("\\s+", -1)).toSeq
    val counts = toks.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val total = toks.length.toLong
    val top = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(TextAnalysis.ZipfTopK)
    val expect = top.zipWithIndex.map { case ((t, c), i) =>
      val rnk = (i + 1).toLong
      val cum = top.take(i + 1).map(_._2).sum
      (rnk, t, c, rnk * c, 1000L * cum / total)
    }
    val out = TextAnalysis.zipfAudit(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq === expect)
    // coverage is monotone; when the vocabulary fits inside top-k the
    // last row must cover the whole stream
    assert(out.map(_._5).toSeq === out.map(_._5).toSeq.sorted)
    if (counts.size <= TextAnalysis.ZipfTopK) assert(out.last._5 === 1000L)
  }

  test("q119: script audit flags both mislabel directions; matches an exact recompute") {
    import spark.implicits._
    // BMP-only fixture: latin label over non-ASCII text AND non-latin
    // label over ASCII text must both surface; empty text counts as
    // ASCII (ap = 1000)
    val fixture = Seq(
      ("en", "hello plain ascii text"),
      ("en", "héllö wörld ünïcödé çœür tèxté"),
      ("zh", "你好世界 这是中文文本"),
      ("zh", "pure ascii pretending to be chinese"),
      ("ru", ""))
    def ap(t: String): Long =
      if (t.isEmpty) 1000L
      else 1000L * t.count(c => c >= 0x20 && c <= 0x7e) / t.length
    val latin = TextAnalysis.ScriptLatinLangs.toSet
    val expect = fixture.groupBy(_._1).toSeq.sortBy(_._1).map { case (lang, xs) =>
      val aps = xs.map { case (_, t) => ap(t) }
      val susp = xs.count { case (l, t) =>
        if (latin(l)) ap(t) < TextAnalysis.ScriptAsciiFloorPermille
        else ap(t) >= TextAnalysis.ScriptAsciiFloorPermille
      }.toLong
      (lang, xs.size.toLong, susp, 1000L * susp / xs.size, aps.min, aps.sum / xs.size)
    }
    val out = TextAnalysis.scriptAuditOf(fixture.toDF("lang", "text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq === expect)
    // both directions fired: the mojibake 'en' doc and the ascii 'zh'
    // doc are suspects; the empty non-latin doc counts as ascii-suspect
    val byLang = out.map(r => r._1 -> r._3).toMap
    assert(byLang("en") === 1L && byLang("zh") === 1L && byLang("ru") === 1L)
  }

  test("q103 at production depth: an 18-merge chain matches recompute, learned from one histogram collect") {
    val docs = bpeDocs()
    val deep = 18
    val (expected, mergesPerDoc, cur) = bpeRecompute(docs, deep)
    assert(expected.length === deep,
      s"fixture too poor to learn $deep merges — got ${expected.length}")
    val out = TextAnalysis.bpeTrain(spark, sf0001, iters = deep).collect()
    assert(out.length === docs.length)
    out.foreach { r =>
      val id = r.getLong(0)
      (0 until deep).foreach { i =>
        assert(r.getString(1 + 2 * i) === expected(i)._1, s"pair_${i + 1}")
        assert(r.getLong(2 + 2 * i) === expected(i)._2, s"cnt_${i + 1}")
        assert(r.getLong(1 + 2 * deep + i) === mergesPerDoc(i)(id), s"doc $id n_merges_${i + 1}")
      }
      assert(r.getLong(1 + 3 * deep) === docs.find(_._1 == id).get._2.length.toLong)
      assert(r.getLong(2 + 3 * deep) === cur(id).length.toLong)
    }
    // the merge budget must not reach Spark: 1, 3 and 18 merges run the
    // same jobs of the same stages and tasks (no corpus scan per merge, no
    // checkpoint job), and nothing is left persisted (a localCheckpoint
    // would be)
    val persisted = spark.sparkContext.getPersistentRDDs.size
    // each job's stages as its start event lists them, skipped ones
    // included: the status tracker drops skipped stages first once more
    // than spark.ui.retainedStages have run in the JVM
    val tasksByJob = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Int]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        tasksByJob.put(e.jobId, e.stageInfos.map(_.numTasks))
    }
    def shape(iters: Int): (Int, Seq[Int]) = {
      val (jobs, learned) = jobsOf(TextAnalysis.bpeLearn(graft.sources.Tables.documents(spark, sf0001), iters))
      assert(learned.length === iters)
      val deadline = System.nanoTime() + 10e9.toLong
      while (!jobs.forall(tasksByJob.containsKey) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.forall(tasksByJob.containsKey), "the listener did not see every job start")
      (jobs.length, jobs.flatMap(tasksByJob.get).sorted)
    }
    spark.sparkContext.addSparkListener(listener)
    val shapes = try Seq(1, 3, deep).map(shape) finally spark.sparkContext.removeSparkListener(listener)
    assert(shapes.distinct.length === 1, s"(jobs, tasks per stage) for budgets 1/3/$deep: $shapes")
    assert(shapes.head._1 >= 1 && shapes.head._1 <= 2, s"one histogram collect expected: ${shapes.head}")
    assert(spark.sparkContext.getPersistentRDDs.size === persisted, "learning left an RDD persisted")
  }

  test("q103: construction runs the same jobs for any merge budget, and the merge order is prefix-stable") {
    TextAnalysis.bpeTrain(spark, sf0001, iters = 1) // warm table metadata
    // each budget's merges are remembered once learned; forget them, so
    // every construction below trains
    def cold[T](body: => T): (Seq[Int], T) = { graft.sources.Tables.forget(TextAnalysis.BpeMerges); jobsOf(body) }
    val (j1, df1) = cold(TextAnalysis.bpeTrain(spark, sf0001, iters = 1))
    val (j2, _) = cold(TextAnalysis.bpeTrain(spark, sf0001, iters = 2))
    val (j3, df3) = cold(TextAnalysis.bpeTrain(spark, sf0001, iters = 3))
    // jobs = the one histogram collect, whatever the budget: an extra
    // iteration that reached Spark would show as a step
    assert(j1.nonEmpty && j1.length <= 2, s"one histogram collect expected, ran ${j1.length} jobs")
    assert(Seq(j1, j2, j3).map(_.length).distinct.length === 1,
      s"per-iteration jobs crept in: runs ${j1.length}/${j2.length}/${j3.length}")
    // prefix stability: a shorter budget learns the same leading merge
    assert(df1.select("pair_1").head.getString(0) === df3.select("pair_1").head.getString(0))
  }

  test("q103: bpeLearn equals the distributed reference loop on the corpus, supplementary-character ties, dry and empty corpora") {
    import spark.implicits._
    val corpus = graft.sources.Tables.documents(spark, sf0001)
    Seq(TextAnalysis.BpeIters, 18).foreach { n =>
      assert(TextAnalysis.bpeLearn(corpus, n) === BpeReference.learn(corpus, n), s"sf0.001, $n merges")
    }
    // every pair ties on count 1, so each merge is decided by pair order:
    // by code point (UTF-8 bytes, Spark's order) 'a' U+E000 < 'a' U+FF01 <
    // 'a' U+1F600, while UTF-16 puts the surrogate D83D before both
    val ties = Seq("a\uE000 a\uFF01 a\uD83D\uDE00", "\uD834\uDD1Ez \uFFFDz \uE001z",
      "\uD83D\uDE00\uD83D\uDE00 \uFF01\uFF01 b\uD834\uDD1E\tb\uFFFD").toDF("text")
    val learned = TextAnalysis.bpeLearn(ties, 8)
    assert(learned === BpeReference.learn(ties, 8))
    assert(learned.head === ("a\uE000" -> 1L), s"first merge by code point order: $learned")
    // a corpus that dries up after one merge, one with no pair, and none
    val dry = Seq("ab c", "d\te  f").toDF("text")
    assert(TextAnalysis.bpeLearn(dry, 3) === Seq("ab" -> 1L))
    assert(BpeReference.learn(dry, 3) === Seq("ab" -> 1L))
    val none = Seq("a b", "", " c ").toDF("text")
    assert(TextAnalysis.bpeLearn(none, 3).isEmpty && BpeReference.learn(none, 3).isEmpty)
    val empty = spark.emptyDataset[String].toDF("text")
    assert(TextAnalysis.bpeLearn(empty, 3).isEmpty && BpeReference.learn(empty, 3).isEmpty)
  }

  test("q104: encoded vocabulary usage matches a driver-side recompute, last merge symbol fully accounted") {
    val docs = bpeDocs()
    val (learned, mergesPerDoc, cur) = bpeRecompute(docs, TextAnalysis.BpeIters)
    assert(learned.length === TextAnalysis.BpeIters, "fixture must learn every iteration")
    // driver-side vocabulary usage over the final working corpus: per
    // symbol, total occurrences (token-histogram weighted) and distinct
    // token types containing it — the same BMP-only precondition as the
    // q103 recompute makes per-Char iteration sound
    val hist = cur.values.flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val expected = hist.toSeq
      .flatMap { case (w, wcnt) => w.map(ch => (ch.toString, w, wcnt)) }
      .groupBy(_._1)
      .map { case (sym, rows) =>
        sym -> ((rows.map(_._3).sum, rows.map(_._2).distinct.size.toLong)) }
    val out = TextAnalysis.bpeEncode(spark, sf0001).collect()
    assert(out.map(_.getString(0)).toSeq === expected.keys.toSeq.sorted,
      "one row per encoded symbol, ordered by symbol")
    val mergeSyms = TextAnalysis.BpeMergeSyms.take(learned.length).toSet
    out.foreach { r =>
      val sym = r.getString(0)
      assert(r.getLong(1) === (if (mergeSyms(sym)) 1L else 0L), s"is_merge($sym)")
      assert(r.getLong(2) === expected(sym)._1, s"n_occ($sym)")
      assert(r.getLong(3) === expected(sym)._2, s"n_tok_types($sym)")
    }
    // merge accounting: every merge i produced n_merges_i occurrences of
    // its symbol; LATER merges may consume earlier symbols (their pair can
    // contain them), so occurrences are bounded by the merge count — and
    // for the LAST symbol nothing can consume it, so the bound is tight
    val occ = out.map(r => r.getString(0) -> r.getLong(2)).toMap
    learned.indices.foreach { i =>
      val total = mergesPerDoc(i).values.sum
      val o = occ.getOrElse(TextAnalysis.BpeMergeSyms(i), 0L)
      assert(o <= total, s"merge symbol $i occurs more often than it was produced")
      if (i == learned.length - 1)
        assert(o === total, "the final merge symbol must be fully accounted")
    }
    // the encode is not a no-op: merge symbols actually appear
    assert(mergeSyms.exists(s => occ.getOrElse(s, 0L) > 0L))
  }

  test("q105: span-excision rewrite matches a driver-side recompute with raw-string span keys") {
    val W = TextAnalysis.SpanWidth
    // limit -1: Spark's split() and DuckDB's string_split_regex both KEEP
    // trailing empty tokens; Scala's default split(limit 0) drops them
    val toks = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+", -1)).toMap
    // raw span strings as keys (not digests): if the 16-byte md5 path ever
    // collided or mis-sliced, this recompute would diverge
    val spans = toks.toSeq.flatMap { case (id, t) =>
      if (t.length >= W) (0 to t.length - W).map(i => (id, i + 1, t.slice(i, i + W).mkString(" ")))
      else Nil
    }
    val owner = spans.groupBy(_._3).map { case (g, xs) => g -> xs.map(_._1).min }
    val covered: Map[Long, Set[Int]] = spans
      .filter { case (id, _, g) => owner(g) < id }
      .groupBy(_._1)
      .map { case (id, xs) => id -> xs.flatMap { case (_, s, _) => s until s + W }.toSet }
    assert(covered.nonEmpty, "fixture must exercise at least one excision")
    val out = TextAnalysis.spanDedupRewrite(spark, sf0001).collect()
    assert(out.length === toks.size)
    assert(out.map(_.getLong(0)).toSeq === out.map(_.getLong(0)).toSeq.sorted)
    out.foreach { r =>
      val id = r.getLong(0)
      val t = toks(id)
      val cov = covered.getOrElse(id, Set.empty)
      val kept = t.zipWithIndex.collect { case (tok, i) if !cov(i + 1) => tok }
      assert(r.getLong(1) === t.length.toLong, s"n_tokens($id)")
      assert(r.getLong(2) === (t.length - kept.length).toLong, s"n_removed($id)")
      assert(r.getString(3) === kept.mkString(" "), s"text_dedup($id)")
    }
    // the rewrite is not a report: tokens were actually removed somewhere,
    // and untouched documents round-trip byte-identically
    assert(out.exists(_.getLong(2) > 0))
    out.filter(_.getLong(2) === 0L).take(5).foreach { r =>
      assert(r.getString(3) === toks(r.getLong(0)).mkString(" "))
    }
  }

  test("q106: incremental span dedup recompute — batch loses exactly the history's spans, history untouched") {
    val W = TextAnalysis.SpanWidth
    val toks = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+", -1)).toMap
    val (batch, hist) = toks.partition { case (id, _) => id % 10 == 9 }
    val histSpans: Set[String] = hist.values
      .filter(_.length >= W)
      .flatMap(t => (0 to t.length - W).map(i => t.slice(i, i + W).mkString(" "))).toSet
    val covered: Map[Long, Set[Int]] = batch.map { case (id, t) =>
      val hits =
        if (t.length >= W)
          (0 to t.length - W).filter(i => histSpans(t.slice(i, i + W).mkString(" ")))
        else Seq.empty
      id -> hits.flatMap(i => (i + 1) until (i + 1 + W)).toSet
    }
    assert(covered.values.exists(_.nonEmpty), "fixture must exercise a batch-vs-history hit")
    val out = TextAnalysis.incrementalSpanDedup(spark, sf0001).collect()
    assert(out.length === batch.size, "only batch documents are rewritten")
    out.foreach { r =>
      val id = r.getLong(0)
      val t = batch(id)
      val kept = t.zipWithIndex.collect { case (tok, i) if !covered(id)(i + 1) => tok }
      assert(r.getLong(1) === t.length.toLong, s"n_tokens($id)")
      assert(r.getLong(2) === (t.length - kept.length).toLong, s"n_removed($id)")
      assert(r.getString(3) === kept.mkString(" "), s"text_dedup($id)")
    }
    // NOTE deliberately NOT asserted: per-doc removal vs q105. The two
    // differ by design — q105's min-doc ownership can let a BATCH doc own
    // a span (keeping it there, excising it from a later history doc),
    // while the incremental rule gives history ownership of everything it
    // contains. Neither dominates the other per document.
  }

  test("excise fold: merged-interval/gap-slice rewrite equals a brute-force mask on adversarial start sets") {
    // the fold is the riskiest arithmetic in q105/q106 — this drives it
    // through the shapes the corpus fixture may never hit: an interval at
    // position 1 (zero-length leading slice), at the last legal start
    // (zero-length tail slice), exactly-adjacent intervals (s == last.b),
    // total coverage (empty kept array), and 55 seeded-random start sets
    val W = TextAnalysis.SpanWidth
    val rnd = new scala.util.Random(20260814L)
    val cases = (0 until 60).map { i =>
      val n = W + rnd.nextInt(40)
      val t = Array.tabulate(n)(j => s"t${j % 5}")
      val maxS = n - W + 1
      val starts: Seq[Int] = i match {
        case 0 => Seq(1)
        case 1 => Seq(maxS)
        case 2 => (1 to maxS)
        case 3 => Seq.empty[Int]
        case 4 => Seq(1, 1 + W).filter(_ <= maxS)
        case _ => rnd.shuffle((1 to maxS).toList).take(rnd.nextInt(maxS + 1)).sorted
      }
      (i.toLong, t, starts)
    }
    import spark.implicits._
    val toks = cases.map { case (id, t, _) => (id, t.toSeq) }.toDF("doc_id", "t")
    val flagged = cases.flatMap { case (id, _, ss) => ss.map(s => (id, s)) }.toDF("doc_id", "s")
    val out = TextAnalysis.exciseRewrite(toks, flagged).collect()
    val expected = cases.map { case (id, t, ss) =>
      val cov = ss.flatMap(s => s until s + W).toSet
      val kept = t.zipWithIndex.collect { case (tok, j) if !cov(j + 1) => tok }
      id -> ((t.length.toLong, (t.length - kept.length).toLong, kept.mkString(" ")))
    }.toMap
    assert(out.length === cases.length)
    out.foreach { r =>
      val e = expected(r.getLong(0))
      assert(r.getLong(1) === e._1, s"n_tokens(${r.getLong(0)})")
      assert(r.getLong(2) === e._2, s"n_removed(${r.getLong(0)})")
      assert(r.getString(3) === e._3, s"text_dedup(${r.getLong(0)})")
    }
  }

  test("q105 counted: five shuffles at the 100 TB shape, and the token stream is not one of them") {
    // broadcast off = the plan the query has when neither side fits an
    // executor: expected exchanges are exactly (1) the owner aggregate on
    // gh, (2) starts co-partitioned to gh for the join, (3) the excised
    // per-doc collect, (4) toks co-partitioned to doc_id for the rebuild
    // join, (5) the contract sort. The scale claim "the token stream is
    // never shuffled" is the absence of a sixth: the documents scan
    // feeding the rebuild ships (doc_id, t) once into (4) and the span
    // frame reduces to starts before any exchange.
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val df = TextAnalysis.spanDedupRewriteCompute(s, sf0001)
    val ex = shuffleExchanges(df)
    assert(ex.size === 5, s"want exactly 5 shuffle exchanges, got ${ex.size}:\n${ex.mkString("\n")}")
  }

  test("q92: exactly k per stratum (or the whole stratum), in hash order") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val out = TextAnalysis.stratifiedTopK(spark, sf0001).collect()
    val byLang = docs.groupBy(_._1)
    out.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      val stratum = byLang(lang).map(_._2)
      assert(rs.length.toLong === math.min(TextAnalysis.StratifiedK, stratum.length.toLong))
      val expected = stratum
        .sortBy(id => ((id * 1664525L + 1013904223L) % 999979L, id))
        .take(TextAnalysis.StratifiedK.toInt).toSeq
      assert(rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq === expected)
    }
    assert(out.groupBy(_.getString(0)).keySet === byLang.keySet)
  }

  test("q93: manifest rows are the conjunction of split, gate, and embedding presence") {
    val split = TextAnalysis.leakageSafeSplit(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val gate = TextAnalysis.curationGate(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(5), r.getBoolean(6))).toMap
    val embIds = graft.sources.Tables.embeddings(spark, sf0001)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val out = TextAnalysis.trainingManifest(spark, sf0001).collect()
    assert(out.length === split.size)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) === split(id))
      assert((r.getLong(2), r.getBoolean(3)) === gate(id))
      assert(r.getBoolean(4) === embIds.contains(id))
      assert(r.getBoolean(5) ===
        (gate(id)._2 && split(id) == "train" && embIds.contains(id)))
    }
    // the manifest must actually partition: some trainable, some not
    assert(out.exists(_.getBoolean(5)) && out.exists(!_.getBoolean(5)))
  }

  test("document/embedding pipeline ops tolerate an empty corpus (no eager throws)") {
    // the ADVICE-flagged failure class: operators that run driver-side
    // setup (model training, filter builds, bounds collection) must
    // degrade to an empty result, not throw, on an empty table
    val dest = java.nio.file.Files.createTempDirectory("graft_empty").toFile
    def writeEmpty(t: String, src: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = new java.io.File(dest, t + "_tmp")
      src.limit(0).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, new java.io.File(dest, t + ".parquet").toPath)
    }
    writeEmpty("documents", graft.sources.Tables.documents(spark, sf0001))
    writeEmpty("embeddings", graft.sources.Tables.embeddings(spark, sf0001))
    val ops = Seq(
      "q82_leakage_safe_split", "q83_shard_manifest", "q84_token_budget_quota",
      "q85_lm_surprisal", "q86_random_projection", "q87_ivf_maintenance",
      "q88_source_contamination", "q89_cluster_safe_split", "q90_curation_gate",
      "q91_bpe_first_merge", "q92_stratified_topk", "q93_training_manifest",
      "q103_bpe_train", // driver-side take(1) loop must degrade, not throw
      "q72_incremental_neardup", "q73_semantic_dedup",
      "q74_bloom_incremental_dedup", // q74 NPE'd here before the empty-filter guard
      "q100_sql_pipeline_report", "q101_sql_simhash_pairs",
      "q102_sql_knn_brute", // SQL-text surface
      "q108_run_collapse", "q110_vocab_growth", // q110's max-doc fetch NPE'd here before the null guard
      "q111_token_drift", "q112_embedding_drift",
      "q114_sql_run_collapse", "q115_source_drift",
      "q116_monitor_panel", // composition of three empty legs
      "q117_bpe_fertility", // empty learn chain + empty per-source agg
      "q118_rejection_breakdown", "q119_script_audit",
      "q120_dedup_survivors", // empty label table -> empty keep-list
      "q121_lsh_recall_audit", // modulus-1 slice over zero docs
      "q122_annealed_mixture", // empty rate table -> empty schedule
      "q123_zipf_audit", // empty histogram -> empty rank table
      "q124_embedding_dim_health", // empty store -> empty dim table
      "q126_retrieval_eval", // empty ranking -> empty eval
      "q127_shard_checksums") // zero shards over zero docs
    try {
      ops.foreach { n =>
        assert(SparkEntry.queries(n)(spark, dest.toString).collect().isEmpty, n)
      }
      // the profiles are the one family whose empty-corpus answer is NOT
      // empty: a profile of an empty table is three all-zero report rows
      // (q113's frozen-histogram merge path must degrade the same way)
      Seq("q109_column_profile", "q113_profile_incremental").foreach { n =>
        val prof = SparkEntry.queries(n)(spark, dest.toString).collect()
        assert(prof.length === 3, n)
        prof.foreach(r => assert(r.getLong(1) === 0L && r.getLong(3) === 0L,
          s"$n: empty-table profile must report n_rows = n_distinct = 0"))
      }
    } finally cleanupWarehouseFor(dest.toString)
  }

  test("q94: sweep histogram matches a recompute from the per-doc scores; rates are cumulative") {
    val perDoc = TextAnalysis.lmSurprisal(spark, sf0001).collect()
      .map(_.getAs[Long]("bits_x100"))
    val expected = perDoc.groupBy(b => b / TextAnalysis.SweepBucket * TextAnalysis.SweepBucket)
      .map { case (lo, xs) => lo -> xs.length.toLong }
    val out = TextAnalysis.surprisalSweep(spark, sf0001).collect()
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap === expected)
    val sorted = out.sortBy(_.getLong(0))
    val cums = sorted.map(_.getLong(1)).scanLeft(0L)(_ + _).tail
    sorted.zip(cums).foreach { case (r, c) =>
      assert(r.getLong(2) === c)
      assert(r.getLong(3) === 1000L * c / perDoc.length)
    }
    assert(sorted.last.getLong(3) === 1000L) // the last bucket keeps everything
  }

  test("q95: conflicting labels on duplicate content are flagged; agreeing ones are not") {
    import spark.implicits._
    val agree = Seq(
      (1L, "same words here", "en", "srcA"),
      (2L, "same  words here", "en", "srcA"), // whitespace-normalized dup, same labels
      (3L, "unique words", "de", "srcB"))
    val conflict = agree ++ Seq(
      (4L, "same words here", "fr", "srcA"),  // lang conflict
      (5L, "other shared text", "en", "srcC"),
      (6L, "other shared text", "en", "srcD")) // source conflict
    val none = TextAnalysis.labelConsistencyOf(
      agree.toDF("doc_id", "text", "lang", "source")).collect()
    assert(none.isEmpty, "agreeing duplicate labels must not be flagged")
    val got = TextAnalysis.labelConsistencyOf(
      conflict.toDF("doc_id", "text", "lang", "source")).collect()
    assert(got.length === 2)
    val byFirst = got.map(r => r.getAs[Long]("first_doc_id") -> r).toMap
    assert(byFirst(1L).getAs[Long]("n_docs") === 3L) // docs 1, 2, 4
    assert(byFirst(1L).getAs[Long]("n_langs") === 2L)
    assert(byFirst(5L).getAs[Long]("n_sources") === 2L)
  }

  test("q97: rolling Karp-Rabin kernel is bit-identical to the direct polynomial") {
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.functions.KarpRabin.{K, B, P}
    val pows = (0 until K).map { j =>
      var p = 1L; (0 until (K - 1 - j)).foreach(_ => p = p * B % P); p
    }
    val direct = (0 until K).map(j =>
      s"CAST(ascii(substr(text, CAST(i + $j AS INT), 1)) AS BIGINT) * ${pows(j)}L").mkString(" + ")
    val both = graft.sources.Tables.documents(spark, sf0001)
      .where(length(col("text")) >= K)
      .select(
        ColumnBridge.of(graft.functions.KarpRabin(ColumnBridge.expr(col("text")))).as("rolled"),
        expr(s"transform(sequence(1, length(text) - ${K - 1}), i -> ($direct) % ${P}L)").as("direct"))
    assert(both.count() > 0)
    assert(both.where(not(col("rolled") <=> col("direct"))).count() === 0L,
      "rolling update must equal the direct per-position polynomial")
    // the native winnowing selection is bit-equal to the HOF min-window
    val w = TextAnalysis.WinnowWindow
    val winBoth = graft.sources.Tables.documents(spark, sf0001)
      .select(ColumnBridge.of(graft.functions.KarpRabin(ColumnBridge.expr(col("text")))).as("hs"))
      .where(size(col("hs")) >= w)
      .select(
        ColumnBridge.of(graft.functions.WinnowMin(ColumnBridge.expr(col("hs")), w)).as("native"),
        expr(s"transform(sequence(1, size(hs) - ${w - 1}), s -> array_min(slice(hs, s, $w)))").as("hof"))
    assert(winBoth.where(not(col("native") <=> col("hof"))).count() === 0L)
  }

  test("q97: winnowing guarantees a shared fingerprint for a shared K+W-1 substring") {
    import spark.implicits._
    // two documents sharing an 11-char substring (K=8, W=4 -> guarantee
    // threshold K+W-1 = 11), embedded in otherwise different text
    val shared = "abcdefghijk"
    val docs = Seq(
      (1L, s"xxxxyyyyzzzz$shared@@@@####"),
      (2L, s"totally other prefix $shared and suffix"),
      (3L, "no overlap with anything else at all here"))
    val dir = java.nio.file.Files.createTempDirectory("graft-winnow").toString
    docs.map { case (id, t) => (id, t, "en", "w", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // recompute fingerprint SETS driver-side from the kernel's own math
    import org.apache.spark.sql.graft.ColumnBridge
    val rows = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"),
        ColumnBridge.of(graft.functions.KarpRabin(ColumnBridge.expr(col("text")))).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def fps(hs: Seq[Long]): Set[Long] =
      hs.sliding(graft.operators.TextAnalysis.WinnowWindow).map(_.min).toSet
    assert((fps(rows(1L)) intersect fps(rows(2L))).nonEmpty,
      "MOSS guarantee: an 11-char shared substring must yield a shared fingerprint")
    assert((fps(rows(1L)) intersect fps(rows(3L))).isEmpty ||
      (fps(rows(2L)) intersect fps(rows(3L))).isEmpty,
      "unrelated text should not collide with both (sanity, not a hard guarantee)")
  }

  test("q169: shard assignment matches a flat driver prefix sum; shards are contiguous and mass-balanced") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split("\\s+", -1).length.toLong))
      .sortBy(_._1)
    val total = docs.map(_._2).sum
    val s = TextAnalysis.NumBalancedShards
    var cum = 0L
    val assign = docs.map { case (id, tok) =>
      val sid = cum * s / total; cum += tok; (sid, id, tok)
    }
    val byShard = assign.groupBy(_._1)
    val rows = TextAnalysis.balancedShards(spark, sf0001).collect()
    assert(rows.length === byShard.size)
    rows.foreach { r =>
      val ds = byShard(r.getLong(0))
      assert(r.getLong(1) === ds.length.toLong)
      assert(r.getLong(2) === ds.map(_._2).min)
      assert(r.getLong(3) === ds.map(_._2).max)
      assert(r.getLong(4) === ds.map(_._3).sum)
    }
    // shards are CONTIGUOUS doc ranges in shard order, cover the corpus,
    // and the mass balance is real (every skew factor within 2x of fair)
    val ordered = rows.sortBy(_.getLong(0))
    ordered.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(3) < b.getLong(2), "shard ranges overlap or disorder")
    }
    assert(ordered.map(_.getLong(4)).sum === total)
    assert(ordered.map(_.getLong(1)).sum === docs.length.toLong)
    ordered.foreach(r => assert(r.getDouble(6) > 0.5 && r.getDouble(6) < 2.0,
      s"shard ${r.getLong(0)} skew ${r.getDouble(6)} — balance is broken"))
    assert(rows.length.toLong === s, "fixture fills fewer shards than configured")
  }

  test("q170: padding waste matches a driver recompute; buckets are pow2 and bucketing beats pad-to-max") {
    val toks = graft.sources.Tables.documents(spark, sf0001)
      .select("text").collect()
      .map(_.getString(0).split("\\s+", -1).length.toLong)
    def pow2ceil(x: Long): Long =
      if (x <= 1L) 1L else java.lang.Long.highestOneBit(x - 1L) << 1
    val byBucket = toks.groupBy(t => math.max(TextAnalysis.MinPadBucket, pow2ceil(t)))
    val gmax = toks.max
    val fixedWaste = (gmax * toks.length - toks.sum).toDouble / (gmax * toks.length)
    val rows = TextAnalysis.paddingWaste(spark, sf0001).collect()
    assert(rows.length === byBucket.size)
    rows.foreach { r =>
      val b = r.getLong(0); val ds = byBucket(b)
      assert((b & (b - 1)) === 0L, s"bucket $b is not a power of two")
      ds.foreach(t => assert(t <= b, "doc longer than its bucket"))
      assert(r.getLong(1) === ds.length.toLong)
      assert(r.getLong(2) === ds.sum)
      assert(r.getLong(3) === b * ds.length - ds.sum)
      assert(math.abs(r.getDouble(4) - (b * ds.length - ds.sum).toDouble / (b * ds.length)) < 1e-6)
      assert(math.abs(r.getDouble(5) - fixedWaste) < 1e-6)
      // per-bucket pow2 padding never wastes half the bucket — but only
      // for TRUE pow2 ceilings (b > MinPadBucket). The MinPadBucket floor
      // bucket holds docs with tok < b/2 too (an all-1-token doc wastes
      // (b-1)/b), so its bound is the floor's own worst case, keeping the
      // assertion an invariant rather than a fixture-shape accident.
      if (b > TextAnalysis.MinPadBucket)
        assert(r.getDouble(4) < 0.5 + 1e-9)
      else
        assert(r.getDouble(4) <=
          (TextAnalysis.MinPadBucket - 1).toDouble / TextAnalysis.MinPadBucket + 1e-9)
    }
    // the report's reason to exist: bucketing beats pad-to-max overall
    val totalPadded = rows.map(_.getLong(3)).sum
    val totalBudget = rows.map(r => r.getLong(0) * r.getLong(1)).sum
    assert(totalPadded.toDouble / totalBudget < fixedWaste,
      "pow2 bucketing failed to beat fixed pad-to-max on this corpus")
  }

  test("q86: hashed sign projection matches an exact-decimal driver recompute") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val embs = graft.sources.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    val out = graft.operators.Similarity.randomProjection(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size === embs.length)
    embs.foreach { case (id, e) =>
      val r = out(id)
      (0 until graft.operators.Similarity.ProjDims).foreach { j =>
        val sum = e.zipWithIndex.foldLeft(JBD.ZERO) { case (acc, (v, i)) =>
          val sign =
            if (((i.toLong * 16L + j) * 2654435761L) % 1000000007L % 2L == 0L) 1 else -1
          acc.add(new JBD(v.toDouble * sign).setScale(12, RoundingMode.HALF_UP))
        }
        val expected = sum.setScale(12, RoundingMode.HALF_UP).doubleValue
        assert(r.getDouble(1 + j) === expected, s"vec $id dim $j")
      }
    }
    // the projection is non-degenerate: every output dim varies across rows
    (0 until graft.operators.Similarity.ProjDims).foreach { j =>
      assert(out.values.map(_.getDouble(1 + j)).toSet.size > 1)
    }
  }
}
