package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook exposing the native expressions to SQL:
  *
  * {{{
  *   graft.GraftSession.builder(cores).getOrCreate() // or, on any builder:
  *   builder.withExtensions(new GraftExtensions)
  *   spark.sql("SELECT graft_fdot(a.embedding, b.embedding) ...")
  * }}}
  *
  * The only registration path: [[graft.GraftSession.builder]] installs it,
  * and [[GraftExtensions.requireInstalled]] rejects a session built
  * without it. (Scala callers can bypass registration via ColumnBridge.) */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // the token-count rewrite (size(split(s, '\s+')) → one byte scan)
    // runs as a real optimizer rule so EVERY query — DataFrame or SQL
    // text — gets it without opting in
    ext.injectOptimizerRule(_ => graft.plans.RewriteTokenCount)
    // physical prep rule: stop BroadcastNestedLoopJoin codegen from
    // re-evaluating expensive streamed-side kernel projections per PAIR
    // (once per build row) instead of once per streamed row — see
    // graft.plans.InsertBnljStreamBarrier
    ext.injectQueryStagePrepRule(_ => graft.plans.InsertBnljStreamBarrier)
  }
}

object GraftExtensions {

  /** The full native-function surface, one entry per expression. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_fdot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "graft_fdot"),
      (children: Seq[Expression]) => FloatVecDot(children(0), children(1))),
    (FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[Simhash64].getName, "graft_simhash64"),
      (children: Seq[Expression]) => Simhash64(children.head)),
    (FunctionIdentifier("graft_zorder2"),
      new ExpressionInfo(classOf[ZOrder2].getName, "graft_zorder2"),
      (children: Seq[Expression]) => ZOrder2(children(0), children(1))),
    (FunctionIdentifier("graft_longest_run"),
      new ExpressionInfo(classOf[LongestRun].getName, "graft_longest_run"),
      (children: Seq[Expression]) => LongestRun(children.head)),
    (FunctionIdentifier("graft_ws_token_count"),
      new ExpressionInfo(classOf[CountWsTokens].getName, "graft_ws_token_count"),
      (children: Seq[Expression]) => {
        if (children.length != 1) throw new IllegalArgumentException(
          s"graft_ws_token_count: expected 1 argument, got ${children.length}")
        CountWsTokens(children.head)
      }),
    (FunctionIdentifier("graft_karp_rabin"),
      new ExpressionInfo(classOf[KarpRabin].getName, "graft_karp_rabin"),
      (children: Seq[Expression]) => KarpRabin(children.head)),
    // winnow_min's window is a plan-time constant: require a foldable
    // integer literal so the generated code can embed it.
    (FunctionIdentifier("graft_winnow_min"),
      new ExpressionInfo(classOf[WinnowMin].getName, "graft_winnow_min"),
      (children: Seq[Expression]) =>
        WinnowMin(children.head,
          foldableInt("graft_winnow_min", "window", children, 2, 1))),
    (FunctionIdentifier("graft_ngram_dup_mass"),
      new ExpressionInfo(classOf[NgramDupMass].getName, "graft_ngram_dup_mass"),
      (children: Seq[Expression]) =>
        NgramDupMass(children.head,
          foldableInt("graft_ngram_dup_mass", "n", children, 2, 1))),
    (FunctionIdentifier("graft_eqcount"),
      new ExpressionInfo(classOf[LongVecEqCount].getName, "graft_eqcount"),
      (children: Seq[Expression]) => LongVecEqCount(children(0), children(1))),
    (FunctionIdentifier("graft_hexhamming"),
      new ExpressionInfo(classOf[HexHamming64].getName, "graft_hexhamming"),
      (children: Seq[Expression]) => HexHamming64(children(0), children(1))),
    // collapse_runs' max-run bound is a plan-time constant: require a
    // foldable integer literal, like graft_winnow_min's window.
    (FunctionIdentifier("graft_collapse_runs"),
      new ExpressionInfo(classOf[CollapseRuns].getName, "graft_collapse_runs"),
      (children: Seq[Expression]) =>
        CollapseRuns(children.head,
          foldableInt("graft_collapse_runs", "k", children, 2, 1))),
    (FunctionIdentifier("graft_dot_dec"),
      new ExpressionInfo(classOf[DecVecDot].getName, "graft_dot_dec"),
      (children: Seq[Expression]) => DecVecDot(children(0), children(1))),
    (FunctionIdentifier("graft_dot_long"),
      new ExpressionInfo(classOf[LongVecDot].getName, "graft_dot_long"),
      (children: Seq[Expression]) => LongVecDot(children(0), children(1))),
    // random_sign_project's output width is a plan-time constant, like
    // graft_winnow_min's window.
    (FunctionIdentifier("graft_random_sign_project"),
      new ExpressionInfo(classOf[RandomSignProject].getName, "graft_random_sign_project"),
      (children: Seq[Expression]) =>
        RandomSignProject(children.head,
          foldableInt("graft_random_sign_project", "dims", children, 2, 1))),
    (FunctionIdentifier("graft_clf_parse"),
      new ExpressionInfo(classOf[ClfParse].getName, "graft_clf_parse"),
      (children: Seq[Expression]) => {
        if (children.length != 1) throw new IllegalArgumentException(
          s"graft_clf_parse: expected 1 argument, got ${children.length}")
        ClfParse(children.head)
      }),
    (FunctionIdentifier("graft_quantize_i8"),
      new ExpressionInfo(classOf[Int8Quantize].getName, "graft_quantize_i8"),
      (children: Seq[Expression]) => Int8Quantize(children(0), children(1))),
    // count_replace's pattern and replacement are plan-time constants:
    // require foldable string literals, the graft_winnow_min convention.
    (FunctionIdentifier("graft_count_replace"),
      new ExpressionInfo(classOf[RegexCountReplace].getName, "graft_count_replace"),
      (children: Seq[Expression]) =>
        RegexCountReplace(children.head,
          foldableString("graft_count_replace", "regex", children, 3, 1),
          foldableString("graft_count_replace", "replacement", children, 3, 2))))

  /** Extract the plan-time Int constant at `children(idx)` for a SQL-text
    * registration, validating arity and range up front: a wrong argument
    * count or a Long outside 32-bit range must fail as an analysis-time
    * IllegalArgumentException, not an IndexOutOfBoundsException or a
    * silent `toInt` truncation (4294967298L would have become k = 2).
    * Range/sign constraints beyond 32-bit fit (e.g. k >= 1) stay with
    * each expression's own checkInputDataTypes. */
  private def foldableInt(fn: String, arg: String, children: Seq[Expression],
      arity: Int, idx: Int): Int = {
    if (children.length != arity) throw new IllegalArgumentException(
      s"$fn: expected $arity arguments, got ${children.length}")
    children(idx) match {
      case e if e.foldable => e.eval() match {
        case i: Int => i
        case l: Long if l >= Int.MinValue && l <= Int.MaxValue => l.toInt
        case other => throw new IllegalArgumentException(
          s"$fn: $arg must be a 32-bit integer literal, got $other")
      }
      case e => throw new IllegalArgumentException(
        s"$fn: $arg must be a foldable literal, got $e")
    }
  }

  /** Extract the plan-time String constant at `children(idx)`, the
    * [[foldableInt]] convention for string-literal arguments. */
  private def foldableString(fn: String, arg: String, children: Seq[Expression],
      arity: Int, idx: Int): String = {
    if (children.length != arity) throw new IllegalArgumentException(
      s"$fn: expected $arity arguments, got ${children.length}")
    children(idx) match {
      case e if e.foldable => e.eval() match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case other => throw new IllegalArgumentException(
          s"$fn: $arg must be a string literal, got $other")
      }
      case e => throw new IllegalArgumentException(
        s"$fn: $arg must be a foldable literal, got $e")
    }
  }

  /** Fails with an IllegalStateException naming every piece of the
    * extension `spark` lacks: a function of [[functions]], the
    * [[graft.plans.RewriteTokenCount]] optimizer rule or the
    * [[graft.plans.InsertBnljStreamBarrier]] query-stage prep rule. A prep
    * rule cannot be added to a session that already exists, so a session
    * built without `.withExtensions(new GraftExtensions)` cannot be
    * repaired, only rejected. Reads the session's registries; runs no job. */
  def requireInstalled(spark: SparkSession): Unit = {
    val state = spark.sessionState
    val missing =
      functions.map(_._1).filterNot(state.functionRegistry.functionExists).map(_.funcName) ++
        Seq(graft.plans.RewriteTokenCount)
          .filterNot(state.optimizer.extendedOperatorOptimizationRules.contains).map(_.ruleName) ++
        Seq(graft.plans.InsertBnljStreamBarrier)
          .filterNot(state.adaptiveRulesHolder.queryStagePrepRules.contains).map(_.ruleName)
    if (missing.nonEmpty) throw new IllegalStateException(
      "session was built without graft.functions.GraftExtensions; missing: " +
        missing.mkString(", "))
  }
}
