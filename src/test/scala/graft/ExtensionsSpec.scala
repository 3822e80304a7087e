package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamingAnalytics

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long)

  test("graft_fdot is callable from SQL via SparkSessionExtensions") {
    val r = spark.sql(
      "SELECT graft_fdot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .head().getDouble(0)
    assert(r === 11.0)
  }

  test("graft_simhash64 is callable from SQL and matches the operator output") {
    val viaSql = spark.sql("SELECT graft_simhash64(array('hello', 'world')) AS h").head().getString(0)
    assert(viaSql.matches("[0-9a-f]{16}"))
    // same tokens, same hash — deterministic
    val again = spark.sql("SELECT graft_simhash64(array('hello', 'world')) AS h").head().getString(0)
    assert(viaSql === again)
  }

  test("graft_fdot participates in whole-stage codegen (non-constant input)") {
    val df = spark.sql(
      "SELECT graft_fdot(array(CAST(id AS DOUBLE), 2.0D), array(CAST(id AS DOUBLE), 3.0D)) AS d FROM range(5)")
    // '*(n)' prefixes mark operators inside a WholeStageCodegen stage; the
    // projection holding graft_fdot must carry one (no CodegenFallback)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Project")), plan)
    assert(df.collect().map(_.getDouble(0)).sorted.toSeq === Seq(6.0, 7.0, 10.0, 15.0, 22.0))
  }

  // '*(n)' prefixes mark operators inside a WholeStageCodegen stage. Every
  // native expression must keep its enclosing projection inside one — a
  // CodegenFallback regression would drop the '*' and re-enter the
  // interpreted tree with a per-row InternalRow materialization.
  private def assertCodegendProject(df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Project")), plan)
  }

  /** The first column's values, or the error condition the query failed
    * with (the innermost SparkThrowable's), so a kernel and its column
    * form can be compared on error paths too. */
  private def outcome(df: => org.apache.spark.sql.DataFrame): Either[String, Seq[Any]] =
    try Right(df.collect().map(_.get(0)).toSeq)
    catch {
      case e: Exception =>
        Left(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collect { case t: org.apache.spark.SparkThrowable if t.getCondition != null => t.getCondition }
          .toSeq.lastOption.getOrElse(e.toString))
    }

  /** `sf0001` embeddings with element 0 replaced by the SQL literal `v`. */
  private def withFirstElement(session: org.apache.spark.sql.SparkSession, v: String, rows: Int) =
    graft.sources.Tables.embeddings(session, sf0001).limit(rows).selectExpr(
      s"transform(embedding, (e, i) -> CASE WHEN i = 0 THEN CAST($v AS FLOAT) ELSE e END) AS embedding")

  test("ngram_dup_mass: codegen'd; repeat mass matches brute counts on edges") {
    val df = spark.sql(
      "SELECT graft_ngram_dup_mass(array('a','b','a','b','a','b'), 3) AS m FROM range(3)")
    assertCodegendProject(df)
    // trigrams: aba, bab, aba, bab → every occurrence is a repeat
    assert(df.collect().forall(_.getLong(0) === 4L))
    def one(sql: String): Long = spark.sql(s"SELECT $sql AS m").collect()(0).getLong(0)
    assert(one("graft_ngram_dup_mass(array('a','b','c'), 3)") === 0L)     // single trigram
    assert(one("graft_ngram_dup_mass(array('a','b'), 3)") === 0L)         // too short
    assert(one("graft_ngram_dup_mass(CAST(array() AS ARRAY<STRING>), 3)") === 0L)
    assert(one("graft_ngram_dup_mass(array('x','x','x','x'), 1)") === 4L) // unigram mode
    assert(one("graft_ngram_dup_mass(array('x','y','x','z'), 2)") === 0L) // all distinct bigrams
  }

  test("formerly-fallback text kernels participate in whole-stage codegen") {
    val runs = spark.sql(
      "SELECT graft_longest_run(array(CAST(id AS STRING), 'x', 'x')) AS r FROM range(5)")
    assertCodegendProject(runs)
    assert(runs.collect().forall(_.getStruct(0).getLong(0) === 2L))

    val kr = spark.sql(
      "SELECT graft_karp_rabin(concat('abcdefgh-', CAST(id AS STRING))) AS h FROM range(5)")
    assertCodegendProject(kr)
    assert(kr.collect().forall(_.getSeq[Long](0).nonEmpty))

    val wm = spark.sql(
      "SELECT graft_winnow_min(graft_karp_rabin(concat('abcdefghij-', CAST(id AS STRING))), 3) AS m FROM range(5)")
    assertCodegendProject(wm)
    assert(wm.collect().forall(_.getSeq[Long](0).nonEmpty))

    val sh = spark.sql(
      "SELECT graft_simhash64(array(CAST(id AS STRING), 'tok')) AS h FROM range(5)")
    assertCodegendProject(sh)
    assert(sh.collect().forall(_.getString(0).matches("[0-9a-f]{16}")))

    val cr = spark.sql(
      "SELECT graft_collapse_runs(array('x', 'x', 'x', CAST(id AS STRING)), 2) AS r FROM range(5)")
    assertCodegendProject(cr)
    assert(cr.collect().forall { r =>
      val s = r.getStruct(0)
      s.getLong(0) === 4L && s.getLong(1) === 3L && s.getLong(2) === 1L && s.getLong(3) === 3L
    })

    // NULL array elements (reachable from SQL text, never from split())
    // are skipped, keeping counts consistent with the joined text
    val nu = spark.sql(
      "SELECT graft_collapse_runs(array(NULL, 'a', NULL, 'a', 'a', 'a'), 2) AS r").head().getStruct(0)
    assert(nu.getLong(0) === 4L && nu.getLong(1) === 2L && nu.getLong(2) === 1L
      && nu.getLong(3) === 4L && nu.getString(4) === "a a")
  }

  test("graft_clf_parse is callable from SQL and participates in whole-stage codegen") {
    val q =
      """SELECT graft_clf_parse(concat('host', CAST(id AS STRING),
        |  ' - - [0', CAST(id + 1 AS STRING), '/aug/1995:00:00:01 -0400] "GET /x HTTP/1.0" 200 ',
        |  CAST(id * 7 AS STRING))) AS p
        |FROM range(5)""".stripMargin
    val df = spark.sql(q)
    assertCodegendProject(df)
    df.collect().zipWithIndex.foreach { case (r, i) =>
      val p = r.getStruct(0)
      assert(p.getAs[Boolean]("m") && p.getAs[String]("host") === s"host$i")
      assert(p.getAs[String]("month") === "aug" && p.getAs[Int]("replyBytes") === i * 7)
      assert(p.getAs[Timestamp]("date").toInstant.toString === s"1995-08-0${i + 1}T04:00:01Z")
    }
    val interpSession = spark.newSession()
    interpSession.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    interpSession.conf.set("spark.sql.codegen.wholeStage", "false")
    assert(interpSession.sql(q).collect().toSeq === df.collect().toSeq)
    // a dead letter: m false, "" groups; a NULL line: m NULL, never a NULL struct
    val dead = spark.sql("SELECT graft_clf_parse('not a log line') AS p").head().getStruct(0)
    assert(!dead.getAs[Boolean]("m") && dead.getAs[String]("host") === "" && dead.isNullAt(2))
    val nul = spark.sql("SELECT graft_clf_parse(CAST(NULL AS STRING)) AS p").head()
    assert(!nul.isNullAt(0) && nul.getStruct(0).isNullAt(0))
    val e = intercept[Exception](spark.sql("SELECT graft_clf_parse(1, 2)").collect())
    assert(e.getMessage.contains("expected 1 argument"), e.getMessage)
  }

  test("generated and interpreted paths of the native kernels are bit-identical") {
    val q =
      """SELECT graft_longest_run(array(CAST(id AS STRING), 'x', 'x', CAST(id % 3 AS STRING))) AS r,
        |       graft_karp_rabin(concat('the quick brown fox ', CAST(id AS STRING))) AS h,
        |       graft_winnow_min(graft_karp_rabin(concat('the quick brown fox ', CAST(id AS STRING))), 4) AS m,
        |       graft_simhash64(array(CAST(id AS STRING), 'tok', CAST(id % 7 AS STRING))) AS s,
        |       graft_collapse_runs(array('x', 'x', 'x', CAST(id % 3 AS STRING), CAST(id % 3 AS STRING), CAST(id % 3 AS STRING)), 2) AS c
        |FROM range(50)""".stripMargin
    val gen = spark.sql(q).collect()
    // isolated session: suites share one SparkSession and run in
    // parallel, so codegen confs must never mutate the shared state
    val interpSession = spark.newSession()
    interpSession.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    interpSession.conf.set("spark.sql.codegen.wholeStage", "false")
    val interp = interpSession.sql(q).collect()
    assert(gen.toSeq === interp.toSeq)
  }

  test("graft_zorder2 is callable from SQL and interleaves bits") {
    // zorder2(1, 0) = morton(01, 00) -> x-bit in position 0 only
    val z = spark.sql(
      "SELECT graft_zorder2(1L, 0L) AS z, graft_zorder2(0L, 1L) AS z2, graft_zorder2(0L, 0L) AS z0").head()
    assert(z.getLong(0) === 1L) // bit i of a -> bit 2i
    assert(z.getLong(1) === 2L) // bit i of b -> bit 2i+1
    assert(z.getLong(2) === 0L)
  }

  test("graft_winnow_min rejects a non-literal window at analysis time") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_winnow_min(array(1L, 2L), CAST(id AS INT)) FROM range(3)").collect()
    }
    assert(e.getMessage.contains("foldable") || e.getMessage.contains("literal"), e.getMessage)
  }

  test("graft_collapse_runs validates arity and literal range at analysis time") {
    // 1 argument: a named analysis error, not IndexOutOfBoundsException
    val arity = intercept[Exception] {
      spark.sql("SELECT graft_collapse_runs(array('a'))").collect()
    }
    assert(arity.getMessage.contains("expected 2 arguments"), arity.getMessage)
    // a Long literal past 32-bit range: rejected, NOT silently truncated
    // (4294967298L.toInt == 2 would have quietly changed the semantics)
    val range = intercept[Exception] {
      spark.sql("SELECT graft_collapse_runs(array('a'), 4294967298L)").collect()
    }
    assert(range.getMessage.contains("32-bit integer literal"), range.getMessage)
    // an in-range Long literal still works like an Int one
    val ok = spark.sql(
      "SELECT graft_collapse_runs(array('a', 'a', 'a'), 2L).text_clean AS r")
      .head().getString(0)
    assert(ok === "a a")
  }

  test("graft_ws_token_count equals size(split(s, '\\s+')) on every edge shape") {
    import spark.implicits._
    // the identity must hold with the REWRITE OUT OF THE WAY: compute
    // size(split) through a non-matching route (split bound to a column
    // first), the kernel through the function, and compare — covering
    // empty, all-ws, leading/trailing ws, every \s class member, unicode
    val fixture = Seq("", " ", "  \t\n", "a", " a", "a ", "a b", "a  b",
      "a\tb\ncd\fe\rf", "héllo wörld", "你好 世界", "x \t y  ")
    val df = fixture.toDF("s")
      .selectExpr("s", "split(s, '\\\\s+') AS arr")
      .selectExpr("s", "size(arr) AS via_split", "graft_ws_token_count(s) AS via_kernel")
    df.collect().foreach { r =>
      assert(r.getInt(1) === r.getInt(2), s"mismatch on ${r.getString(0).replace("\n", "\\n")}")
    }
    // null flows through as null on both sides (non-legacy sizeOfNull)
    val n = spark.sql("SELECT size(split(CAST(NULL AS STRING), '\\\\s+')) AS a, " +
      "graft_ws_token_count(CAST(NULL AS STRING)) AS b").head()
    assert(n.isNullAt(0) && n.isNullAt(1))
  }

  test("RewriteTokenCount fires on size(split(s, '\\s+')) and ONLY on the exact shape") {
    import spark.implicits._
    // a parquet-backed plan: a literal LocalRelation would be folded away
    // by ConvertToLocalRelation before any expression survives to match
    def kernelCount(sql: String): Int = {
      val df = graft.sources.Tables.documents(spark, sf0001).selectExpr(sql + " AS c")
      df.queryExecution.optimizedPlan.collect { case p => p.expressions }.flatten
        .flatMap(_.collect { case e: graft.functions.CountWsTokens => e }).length
    }
    assert(kernelCount("size(split(text, '\\\\s+'))") === 1,
      "the canonical token count must be rewritten to the byte-scan kernel")
    // a DIFFERENT pattern or an explicit limit is NOT the same function —
    // the rule must leave those plans alone
    assert(kernelCount("size(split(text, ','))") === 0)
    assert(kernelCount("size(split(text, '\\\\s'))") === 0)
    assert(kernelCount("size(split(text, '\\\\s+', 2))") === 0)
    // end-to-end: the rewritten plan computes the same answer
    val v = Seq(" a  b\tc ").toDF("s")
      .selectExpr("size(split(s, '\\\\s+')) AS c").head().getInt(0)
    assert(v === 5) // ["", "a", "b", "c", ""] under limit -1 semantics
  }

  test("graft_dot_dec ≡ the exact-decimal HOF fold it replaced, on open inputs and every edge shape") {
    // the replaced fragment, verbatim
    def hof(a: String, b: String): String =
      s"""CAST(ROUND(aggregate(
         |  zip_with($a, $b, (x, y) -> CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(18,12))),
         |  CAST(0 AS DECIMAL(18,12)), (acc, v) -> CAST(acc + v AS DECIMAL(18,12))), 12) AS DOUBLE)""".stripMargin
    // open inputs: irrational-ish doubles from id, float inputs, mixed signs
    val df = spark.sql(
      s"""SELECT id,
         |  graft_dot_dec(a, b) AS k, ${hof("a", "b")} AS h
         |FROM (SELECT id,
         |        array(CAST(id * 0.1234567 AS FLOAT), CAST(-id * 7.654321e-3 AS FLOAT), CAST(sqrt(id) AS FLOAT)) AS a,
         |        array(CAST(id * 1.1 AS FLOAT), CAST(id * -0.99999 AS FLOAT), CAST(ln(id + 1) AS FLOAT)) AS b
         |      FROM range(200))""".stripMargin)
    assertCodegendProject(df)
    df.collect().foreach(r => assert(r.getDouble(1) === r.getDouble(2), s"id ${r.getLong(0)}"))
    // edge shapes, each compared to the HOF's own behavior:
    // length mismatch → zip_with pads with NULL → fold poisons → NULL
    val edges = spark.sql(
      s"""SELECT
         |  graft_dot_dec(array(1.0F, 2.0F), array(3.0F)) AS k_mis,
         |  ${hof("array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))", "array(CAST(3.0 AS FLOAT))")} AS h_mis,
         |  graft_dot_dec(array(1.0F, CAST(NULL AS FLOAT)), array(3.0F, 4.0F)) AS k_null,
         |  ${hof("array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT))", "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))")} AS h_null,
         |  graft_dot_dec(CAST(array() AS ARRAY<FLOAT>), CAST(array() AS ARRAY<FLOAT>)) AS k_empty,
         |  ${hof("CAST(array() AS ARRAY<FLOAT>)", "CAST(array() AS ARRAY<FLOAT>)")} AS h_empty""".stripMargin)
      .head()
    assert(edges.isNullAt(0) && edges.isNullAt(1), "length mismatch must be NULL on both")
    assert(edges.isNullAt(2) && edges.isNullAt(3), "NULL element must poison both")
    assert(edges.getDouble(4) === 0.0 && edges.getDouble(5) === 0.0, "empty arrays fold to the seed")
    // generated ≡ interpreted for the kernel itself
    val q = "SELECT graft_dot_dec(array(CAST(id * 0.37 AS FLOAT)), array(CAST(id * -1.21 AS FLOAT))) AS d FROM range(50)"
    val interpSession = spark.newSession()
    interpSession.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    interpSession.conf.set("spark.sql.codegen.wholeStage", "false")
    assert(spark.sql(q).collect().toSeq === interpSession.sql(q).collect().toSeq)
    // non-finite and oversized products against a vector of 1000s: a NaN or
    // ±Inf product casts to NULL in both ANSI modes and poisons the fold; a
    // product of 1e6 or more (2000 · 1000), or a partial sum past it (two
    // 999 · 1000 terms), fails the cast under ANSI and is NULL without it.
    // zip_with casts every product before the fold adds any, so under ANSI
    // an oversized product fails the row even behind a poisoned element or
    // a length mismatch
    val shapes = Seq("'NaN'", "'Infinity'", "'-Infinity'", "2000").map(v =>
      v -> s"transform(embedding, (e, i) -> CASE WHEN i = 0 THEN CAST($v AS FLOAT) ELSE e END)") ++
      Seq("NaN" -> "'NaN'", "NULL" -> "NULL").map { case (name, v) => s"$name, then 2000" ->
        s"transform(embedding, (e, i) -> CASE WHEN i = 0 THEN CAST($v AS FLOAT) WHEN i = 1 THEN CAST(2000 AS FLOAT) ELSE e END)" } ++
      Seq(
        "partial sum" -> "transform(embedding, (e, i) -> CASE WHEN i < 2 THEN CAST(999 AS FLOAT) ELSE e END)",
        "length mismatch, 2000 in the prefix" ->
          "concat(transform(embedding, (e, i) -> CASE WHEN i = 1 THEN CAST(2000 AS FLOAT) ELSE e END), array(CAST(1 AS FLOAT)))")
    try {
      for (ansi <- Seq("true", "false"); session <- Seq(spark, interpSession)) {
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        interpSession.conf.set("spark.sql.ansi.enabled", ansi)
        for ((name, a) <- shapes) {
          val in = graft.sources.Tables.embeddings(session, sf0001).limit(2)
            .selectExpr(s"$a AS a", "transform(embedding, e -> CAST(1000 AS FLOAT)) AS b")
          val ref = outcome(in.selectExpr(hof("a", "b")))
          val ker = outcome(in.selectExpr("graft_dot_dec(a, b)"))
          assert(ref.isLeft === (ansi == "true" && !name.startsWith("'")), s"ansi=$ansi, $name: $ref")
          assert(ker === ref,
            s"ansi=$ansi, $name, ${if (session eq spark) "generated" else "interpreted"}")
        }
      }
    } finally {
      spark.conf.unset("spark.sql.ansi.enabled")
      interpSession.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("graft_dot_long ≡ the BIGINT HOF fold it replaced (q81), on open inputs and edge shapes") {
    def hof(a: String, b: String): String =
      s"""aggregate(zip_with($a, $b, (x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)),
         |          CAST(0 AS BIGINT), (acc, v) -> acc + v)""".stripMargin
    val df = spark.sql(
      s"""SELECT id, graft_dot_long(a, b) AS k, ${hof("a", "b")} AS h
         |FROM (SELECT id,
         |        array(CAST(id % 127 AS INT), CAST(-(id % 89) AS INT), 127) AS a,
         |        array(CAST(id % 113 AS INT), CAST((id % 7) - 3 AS INT), -127) AS b
         |      FROM range(200))""".stripMargin)
    assertCodegendProject(df)
    df.collect().foreach(r => assert(r.getLong(1) === r.getLong(2), s"id ${r.getLong(0)}"))
    val edges = spark.sql(
      s"""SELECT
         |  graft_dot_long(array(1, 2), array(3)) AS k_mis,
         |  ${hof("array(1, 2)", "array(3)")} AS h_mis,
         |  graft_dot_long(array(1, CAST(NULL AS INT)), array(3, 4)) AS k_null,
         |  ${hof("array(1, CAST(NULL AS INT))", "array(3, 4)")} AS h_null,
         |  graft_dot_long(CAST(array() AS ARRAY<INT>), CAST(array() AS ARRAY<INT>)) AS k_empty,
         |  ${hof("CAST(array() AS ARRAY<INT>)", "CAST(array() AS ARRAY<INT>)")} AS h_empty""".stripMargin)
      .head()
    assert(edges.isNullAt(0) && edges.isNullAt(1), "length mismatch must be NULL on both")
    assert(edges.isNullAt(2) && edges.isNullAt(3), "NULL element must poison both")
    assert(edges.getLong(4) === 0L && edges.getLong(5) === 0L, "empty arrays fold to the seed")
  }

  test("graft_quantize_i8 ≡ the transform quantizer it replaced (q81), on open inputs and edge shapes") {
    // the replaced fragment, verbatim
    def hof(a: String, nrm: String): String =
      s"""transform($a, x ->
         |  CASE WHEN $nrm = 0.0D THEN 0
         |       ELSE CAST(floor((CAST(x AS DOUBLE) / $nrm) * 127.0D + 0.5D) AS INT) END)""".stripMargin
    val df = spark.sql(
      s"""SELECT id, graft_quantize_i8(a, nrm) AS k, ${hof("a", "nrm")} AS h
         |FROM (SELECT id,
         |        array(CAST(id * 0.1234567 AS FLOAT), CAST(-id * 7.654321e-3 AS FLOAT), CAST(sqrt(id) AS FLOAT)) AS a,
         |        CAST(sqrt(id + 1) * 1.7 AS DOUBLE) AS nrm
         |      FROM range(200))""".stripMargin)
    assertCodegendProject(df)
    df.collect().foreach(r => assert(r.getSeq[Int](1) === r.getSeq[Int](2), s"id ${r.getLong(0)}"))
    // edge shapes, each compared to the HOF's own behavior
    val edges = spark.sql(
      s"""SELECT
         |  graft_quantize_i8(array(1.0F, CAST(NULL AS FLOAT)), 0.0D) AS k_zero,
         |  ${hof("array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT))", "0.0D")} AS h_zero,
         |  graft_quantize_i8(array(1.0F, CAST(NULL AS FLOAT)), 2.0D) AS k_null,
         |  ${hof("array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT))", "2.0D")} AS h_null,
         |  graft_quantize_i8(CAST(array() AS ARRAY<FLOAT>), 3.0D) AS k_empty,
         |  graft_quantize_i8(array(1.0F), CAST(NULL AS DOUBLE)) AS k_nnrm""".stripMargin)
      .head()
    // nrm = 0 short-circuits EVERY element to 0, NULL elements included
    assert(edges.getSeq[Any](0) === Seq(0, 0) && edges.getSeq[Any](1) === Seq(0, 0))
    // NULL element stays NULL when nrm != 0
    assert(edges.getSeq[Any](2) === edges.getSeq[Any](3))
    assert(edges.getSeq[Any](2)(1) == null)
    assert(edges.getSeq[Any](4) === Seq.empty)
    assert(edges.isNullAt(5), "NULL nrm must be NULL")
    // generated ≡ interpreted for the kernel itself
    val q = "SELECT graft_quantize_i8(array(CAST(id * 0.37 AS FLOAT)), sqrt(CAST(id + 1 AS DOUBLE))) AS d FROM range(50)"
    val interpSession = spark.newSession()
    interpSession.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    interpSession.conf.set("spark.sql.codegen.wholeStage", "false")
    assert(spark.sql(q).collect().toSeq === interpSession.sql(q).collect().toSeq)
  }

  test("graft_count_replace ≡ one-pass (size(regexp_extract_all), regexp_replace) pair (q66)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.ColumnBridge
    val emailRe = graft.operators.TextAnalysis.EmailRe
    val rows = Seq(
      "contact a@b.com and c.d+e@f-g.org now", // two matches
      "no pii here",                           // zero matches
      "x@y.io",                                // match is the whole string
      "trailing a@b.co",                       // match at end of input
      "@not an email@, a@@b, a@b.c, a@b.comm") // near-misses + >2-char TLD
      .toDF("txt")
    val df = rows.select(
      ColumnBridge.of(graft.functions.RegexCountReplace(
        ColumnBridge.expr(col("txt")), emailRe, "<EMAIL>")).as("cr"),
      size(regexp_extract_all(col("txt"), lit(emailRe), lit(0))).cast("long").as("n"),
      regexp_replace(col("txt"), emailRe, "<EMAIL>").as("rep"))
    // (codegen participation is asserted on the range-derived query below
    // — this literal frame constant-folds to a LocalTableScan)
    df.collect().foreach { r =>
      val cr = r.getStruct(0)
      assert(cr.getLong(0) === r.getLong(1), s"count mismatch on '${r.getString(2)}'")
      assert(cr.getString(1) === r.getString(2), s"replace mismatch on '${r.getString(2)}'")
    }
    // group references in the replacement behave exactly like
    // regexp_replace's (both go through Matcher.appendReplacement raw)
    val grp = spark.sql(
      """SELECT graft_count_replace('ab ab cd', '(a)(b)', '$2$1') AS cr,
        |       regexp_replace('ab ab cd', '(a)(b)', '$2$1') AS rep""".stripMargin).head()
    assert(grp.getStruct(0).getLong(0) === 2L)
    assert(grp.getStruct(0).getString(1) === grp.getString(1))
    // SQL-callable with literal args; non-literal pattern rejected
    val viaSql = spark.sql("SELECT graft_count_replace('aXbXc', 'X', '-') AS cr").head().getStruct(0)
    assert(viaSql.getLong(0) === 2L && viaSql.getString(1) === "a-b-c")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_count_replace('a', CAST(id AS STRING), '-') FROM range(3)").collect()
    }
    assert(e.getMessage.contains("foldable") || e.getMessage.contains("literal"), e.getMessage)
    // NULL input → NULL struct
    assert(spark.sql("SELECT graft_count_replace(CAST(NULL AS STRING), 'x', 'y') AS cr").head().isNullAt(0))
    // generated ≡ interpreted for the kernel itself, and the projection
    // stays inside whole-stage codegen on a non-constant input
    val q = "SELECT graft_count_replace(concat('u', CAST(id AS STRING), '@example.com or not'), '[a-z0-9]+@[a-z.]+[a-z]', '<E>') AS cr FROM range(50)"
    assertCodegendProject(spark.sql(q))
    val interpSession = spark.newSession()
    interpSession.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    interpSession.conf.set("spark.sql.codegen.wholeStage", "false")
    assert(spark.sql(q).collect().toSeq === interpSession.sql(q).collect().toSeq)
  }

  test("graft_random_sign_project: SQL-callable, codegen'd, exact-decimal parity incl. NULL positions") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    // values match the replaced aggregate's arithmetic: per element the
    // DECIMAL(18,12) cast (Double.toString → HALF_UP), signed by the
    // (i*dims + j) hash parity, exact sum, single rounding to double
    def expected(vals: Seq[Option[Double]], dims: Int): Seq[Option[Double]] =
      (0 until dims).map { j =>
        val nonNull = vals.zipWithIndex.collect { case (Some(v), i) => (v, i) }
        if (nonNull.isEmpty) None
        else Some(nonNull.foldLeft(JBD.ZERO) { case (acc, (v, i)) =>
          val term = JBD.valueOf(v).setScale(12, RoundingMode.HALF_UP)
          val pos = ((i.toLong * dims + j) * 2654435761L) % 1000000007L % 2L == 0L
          if (pos) acc.add(term) else acc.subtract(term)
        }.doubleValue)
      }
    val df = spark.sql(
      """SELECT graft_random_sign_project(
        |  array(CAST(id AS FLOAT), CAST(NULL AS FLOAT), CAST(0.1 AS FLOAT), CAST(-2.5 AS FLOAT)), 4) AS p
        |FROM range(20)""".stripMargin)
    assertCodegendProject(df)
    df.collect().zipWithIndex.foreach { case (r, id) =>
      val got = r.getSeq[java.lang.Double](0).map(Option(_).map(_.doubleValue))
      val want = expected(Seq(Some(id.toDouble),
        None, Some(0.1f.toDouble), Some(-2.5f.toDouble)), 4)
      assert(got === want, s"row $id")
    }
    // all-NULL input: SUM-over-zero-rows semantics — every output NULL
    val nulls = spark.sql(
      "SELECT graft_random_sign_project(array(CAST(NULL AS FLOAT)), 3) AS p")
      .head().getSeq[java.lang.Double](0)
    assert(nulls === Seq(null, null, null))
    // non-literal dims rejected at analysis time, like graft_winnow_min
    val e = intercept[Exception] {
      spark.sql("SELECT graft_random_sign_project(array(1.0F), CAST(id AS INT)) FROM range(3)").collect()
    }
    assert(e.getMessage.contains("foldable") || e.getMessage.contains("literal"), e.getMessage)
  }

  test("q86 plan: the projection kernel is map-side — no exchange before the presentation sort") {
    val df = graft.operators.Similarity.randomProjection(spark, sf0001)
    assert(shuffleExchanges(df).size === 1, // the orderBy range exchange only
      s"expected only the presentation-sort exchange:\n${df.queryExecution.executedPlan}")
    // and the kernel column is produced by exactly ONE expression
    // instance (the two-level select is a CollapseProject boundary) —
    // counted over the FINAL plan's nodes, not the plan string (the AQE
    // string repeats the tree as Initial Plan + Final Plan)
    val nKernels = allPlanNodes(df.queryExecution.executedPlan).map {
      case p: org.apache.spark.sql.execution.ProjectExec =>
        p.projectList.map(_.collect { case e: graft.functions.RandomSignProject => e }.size).sum
      case _ => 0
    }.sum
    assert(nKernels === 1,
      s"kernel must be evaluated once, found $nKernels instances in the final plan")
  }

  test("graft_eqcount and graft_hexhamming are callable from SQL") {
    val eq = spark.sql(
      "SELECT graft_eqcount(array(1L, 2L, 3L, 4L), array(1L, 9L, 3L, 4L)) AS c").head().getInt(0)
    assert(eq === 3)
    val hd = spark.sql(
      "SELECT graft_hexhamming('00000000000000ff', '0000000000000000') AS d").head().getInt(0)
    assert(hd === 8)
  }

  test("bounded-state streaming dedup emits first event per user") {
    val input = MemoryStream[Ev](spark)
    input.addData(Seq(
      Ev(0, Timestamp.valueOf("2024-01-10 00:00:00"), 1),
      Ev(1, Timestamp.valueOf("2024-01-10 00:05:00"), 1),
      Ev(2, Timestamp.valueOf("2024-01-10 00:06:00"), 2)))
    val q = StreamingAnalytics.firstEventPerUserBounded(input.toDF())
      .writeStream.format("memory").queryName("bounded_dedup").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val users = spark.table("bounded_dedup").collect().map(_.getAs[Long]("user_id")).sorted
    assert(users.toSeq === Seq(1L, 2L))
  }

  test("graft_pq_assign ≡ the unrolled per-subspace argmin projection (PQ encode), corpus + edges") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    // deterministic synthetic codebook cube in the production 8×16×8 shape
    var x = 0x5EED5EEDL
    val cbs = Array.fill(8, 16, 8) {
      x = x * 6364136223846793005L + 1442695040888963407L
      (x >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val both = emb.select(col("vec_id"),
      Similarity.pqAssignCol(cbs).as("k"),
      array(VectorReference.pqCodeCols(cbs): _*).as("h"))
    assertCodegendProject(both)
    val rows = both.collect()
    assert(rows.nonEmpty, "sf0.001 fixture must exercise the kernel")
    rows.foreach(r => assert(r.getSeq[Any](1) === r.getSeq[Any](2), s"vec ${r.get(0)}"))
    // edges, each compared to the unrolled form's own behavior: a NULL
    // element poisons exactly its own subspace; a NULL array yields an
    // array of 8 NULL codes (array(...) itself is never NULL)
    val base = emb.limit(1).select(col("embedding"))
    val edges = base.select(
      expr("transform(embedding, (v, i) -> CASE WHEN i = 3 THEN CAST(NULL AS FLOAT) ELSE v END)")
        .as("embedding"))
      .unionByName(base.select(expr("CAST(NULL AS ARRAY<FLOAT>)").as("embedding")))
    val er = edges.select(
      Similarity.pqAssignCol(cbs).as("k"),
      array(VectorReference.pqCodeCols(cbs): _*).as("h")).collect()
    er.foreach(r => assert(r.getSeq[Any](0) === r.getSeq[Any](1), r.toString))
    assert(er(0).getSeq[Any](0).head == null, "subspace 0 must be poisoned")
    assert(er(0).getSeq[Any](0).drop(1).forall(_ != null), "only subspace 0 poisoned")
    assert(er(1).getSeq[Any](0) === Seq.fill(8)(null))
    // an array shorter than subs×subDim throws, as ANSI element_at would
    val short = base.select(expr("slice(embedding, 1, 10)").as("embedding"))
    intercept[Exception](short.select(Similarity.pqAssignCol(cbs)).collect())
    // generated ≡ interpreted for the kernel itself
    val interpSession = spark.newSession()
    interpSession.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    interpSession.conf.set("spark.sql.codegen.wholeStage", "false")
    val kInterp = graft.sources.Tables.embeddings(interpSession, sf0001)
      .select(col("vec_id"), Similarity.pqAssignCol(cbs).as("k"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    rows.foreach(r => assert(kInterp(r.getLong(0)) === r.getSeq[Any](1)))
    // (x − u)² ≥ 1e6 does not fit DECIMAL(18,12): under ANSI the SQL
    // form's CAST fails the query, without ANSI that distance is NULL and
    // the argmin skips it. 2000 overflows every codeword of subspace 0,
    // ±999.5 only those on the far side. NaN casts to NULL in both modes
    try {
      for (ansi <- Seq("true", "false"); session <- Seq(spark, interpSession)) {
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        interpSession.conf.set("spark.sql.ansi.enabled", ansi)
        for (v <- Seq("2000", "999.5", "-999.5", "'NaN'")) {
          val in = withFirstElement(session, v, 2)
          val ref = outcome(in.select(array(VectorReference.pqCodeCols(cbs): _*)))
          val ker = outcome(in.select(Similarity.pqAssignCol(cbs)))
          assert(ref.isLeft === (ansi == "true" && v != "'NaN'"), s"ansi=$ansi, $v: $ref")
          assert(ker === ref,
            s"ansi=$ansi, $v, ${if (session eq spark) "generated" else "interpreted"}")
        }
      }
    } finally {
      spark.conf.unset("spark.sql.ansi.enabled")
      interpSession.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("graft_ivf_assign ≡ the fscores/hybridCellCol column pair (IVF family), corpus + edges") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    // deterministic synthetic centroid matrix in the production 16×64 shape
    var x = 0xC411ED5L
    val cents = Array.fill(16, 64) {
      x = x * 6364136223846793005L + 1442695040888963407L
      (x >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }.map { v => val n = math.sqrt(v.map(d => d * d).sum); v.map(_ / n) }
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val both = emb
      .withColumn("fscores", VectorReference.cellScoresCol(cents))
      .select(col("vec_id"),
        Similarity.ivfCellCol(cents).as("k"),
        VectorReference.hybridCellCol(cents).as("h"))
    assertCodegendProject(both)
    val rows = both.collect()
    assert(rows.nonEmpty, "sf0.001 fixture must exercise the kernel")
    rows.foreach(r => assert(r.get(1) === r.get(2), s"vec ${r.get(0)}"))
    // a NULL embedding must yield a NULL cell on both forms
    val nullRow = emb.limit(1)
      .select(expr("CAST(NULL AS ARRAY<FLOAT>)").as("embedding"))
      .withColumn("fscores", VectorReference.cellScoresCol(cents))
      .select(Similarity.ivfCellCol(cents).as("k"), VectorReference.hybridCellCol(cents).as("h"))
      .head()
    assert(nullRow.isNullAt(0) && nullRow.isNullAt(1))
    // near-tie fallback path: identical centroids 0 and 1 force gap = 0 —
    // both forms must take the exact-decimal argmax (first index wins)
    val tied = cents.clone(); tied(1) = tied(0).clone()
    val tr = emb.limit(32)
      .withColumn("fscores", VectorReference.cellScoresCol(tied))
      .select(Similarity.ivfCellCol(tied).as("k"), VectorReference.hybridCellCol(tied).as("h"))
      .collect()
    tr.foreach(r => assert(r.get(0) === r.get(1), r.toString))
    // generated ≡ interpreted for the kernel itself
    val interpSession = spark.newSession()
    interpSession.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    interpSession.conf.set("spark.sql.codegen.wholeStage", "false")
    val kInterp = graft.sources.Tables.embeddings(interpSession, sf0001)
      .select(col("vec_id"), Similarity.ivfCellCol(cents).as("k"))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    rows.foreach(r => assert(kInterp(r.getLong(0)) === r.get(1)))
    // one centroid: the column form's element_at(array_sort(f), -2) has no
    // second score. ANSI fails every non-NULL row; non-ANSI makes the gap
    // NULL, so the CASE takes the exact-decimal branch. The kernel must
    // agree in both modes, generated and interpreted, on NULL rows too.
    val one = Array(cents(0))
    try {
      for (ansi <- Seq("true", "false"); session <- Seq(spark, interpSession)) {
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        interpSession.conf.set("spark.sql.ansi.enabled", ansi)
        val some = graft.sources.Tables.embeddings(session, sf0001).select(col("embedding")).limit(8)
        val nulls = some.select(when(lit(false), col("embedding")).as("embedding"))
        for (in <- Seq(some, nulls)) {
          val ref = outcome(in.withColumn("fscores", VectorReference.cellScoresCol(one))
            .select(VectorReference.hybridCellCol(one)))
          val ker = outcome(in.select(Similarity.ivfCellCol(one)))
          assert(ker === ref, s"ansi=$ansi, ${if (session eq spark) "generated" else "interpreted"}")
        }
      }
    } finally {
      spark.conf.unset("spark.sql.ansi.enabled")
      interpSession.conf.unset("spark.sql.ansi.enabled")
    }
    // a non-finite element makes every score non-finite. NaN scores (and
    // +Inf − +Inf) give a NaN top-2 gap, which Spark orders above every
    // double, so the column form takes the double-score branch
    for (session <- Seq(spark, interpSession); v <- Seq("'NaN'", "'Infinity'", "'-Infinity'")) {
      val in = withFirstElement(session, v, 4)
      val ref = outcome(in.withColumn("fscores", VectorReference.cellScoresCol(cents))
        .select(VectorReference.hybridCellCol(cents)))
      val ker = outcome(in.select(Similarity.ivfCellCol(cents)))
      assert(ref.isRight, s"column form must accept element $v: $ref")
      assert(ker === ref, s"$v, ${if (session eq spark) "generated" else "interpreted"}")
    }
  }
}
