package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Literal, Size, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.CountWsTokens

/** Catalyst optimizer rule: `size(split(str, '\s+'))` →
  * [[graft.functions.CountWsTokens]] — count whitespace tokens with one
  * zero-copy byte scan instead of allocating, filling, measuring, and
  * discarding the split array per row. Token counting is the inner loop
  * of the corpus-statistics family (q23/q71/q79/q83/q84/q117), so the
  * array round-trip is pure allocation pressure at 100 TB.
  *
  * The match is deliberately EXACT — the literal Java-regex `\s+`, the
  * default split limit -1, and non-legacy size-of-null semantics (both
  * sides yield NULL on NULL input). Any other pattern, an expression
  * limit, a pre-split array, or `spark.sql.legacy.sizeOfNull=true`
  * leaves the plan untouched: the rule only fires where the byte-scan
  * identity `tokens = \s-run count + 1` is provably the same function.
  *
  * Injected by [[graft.functions.GraftExtensions]] via
  * `injectOptimizerRule`. */
object RewriteTokenCount extends Rule[LogicalPlan] {

  private val WsPattern = UTF8String.fromString("\\s+")

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Size(StringSplit(str, Literal(p: UTF8String, StringType), Literal(-1, IntegerType)), false)
          if p == WsPattern && str.dataType == StringType =>
        CountWsTokens(str)
    }
}
