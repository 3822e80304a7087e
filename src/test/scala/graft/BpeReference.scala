package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis.{BpeMaxIters, BpeMergeSyms}

/** BPE merge learning as a distributed loop over the working corpus — the
  * reference form that [[graft.operators.TextAnalysis.bpeLearn]] is held
  * equal to (PipelineOpsSpec). Per merge it splits the whole working text
  * on `\s+`, keeps tokens of length ≥ 2, counts every adjacent pair
  * `substr(w, i, 2)` weighted by its token's count, takes the top row of
  * `orderBy(cnt desc, pair asc)` (Spark's string order) and applies it
  * with a whole-text `replace`. A dry iteration leaves the text unchanged,
  * so every later one is dry too. */
object BpeReference {

  def learn(docs: DataFrame, iters: Int): Seq[(String, Long)] = {
    require(iters <= BpeMaxIters, s"at most $BpeMaxIters merge symbols are reserved")
    var cur = docs.select(col("text"))
    val learned = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    (0 until iters).foreach { i =>
      val top = cur
        .select(explode(split(col("text"), "\\s+")).as("w"))
        .where(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("wcnt"))
        .select(col("wcnt"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")).as("pair"))
        .groupBy("pair").agg(sum(col("wcnt")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .take(1)
      if (top.nonEmpty) {
        learned += ((top.head.getString(0), top.head.getLong(1)))
        cur = cur.withColumn("text",
          replace(col("text"), lit(learned.last._1), lit(BpeMergeSyms(i))))
      }
    }
    learned.toSeq
  }
}
