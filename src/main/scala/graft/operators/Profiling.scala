package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** One-pass-per-column data profiling — the ingest-time health report a
  * 100 TB curation pipeline runs before anything else touches a new drop
  * (row counts, null fractions, EXACT distinct cardinality, value range,
  * modal value). The reference has no profiling surface; this is the
  * operational complement the LLM-pipeline operators assume (q69's
  * mixture weights, q79's coverage curves and q84's quotas all start
  * from "what sources/langs are in this drop and how big is each").
  *
  * Shape per profiled column: groupBy(value) with map-side partial
  * counts (the value histogram), then a single-row reduction of that
  * histogram for count/nulls/distinct/min/max and an argmax for the
  * modal value. For the categorical columns a pipeline profiles, the
  * histogram is vocabulary-sized, so the shuffle carries the partial
  * aggregates, not rows; for a genuinely high-cardinality column the
  * same plan degrades to exactly the shuffle any EXACT distinct needs —
  * the sketch escape hatch is the declared-twin pattern (HLL, q2b).
  * Columns profile independently (a UNION of per-column plans), so the
  * per-column jobs schedule in parallel and a wide table profiles in
  * one wave per executor slot.
  *
  * Determinism: modal-value tie-break is the LEXICOGRAPHICALLY LARGEST
  * value among equal counts — `max(struct(cnt, v))` on the Spark side,
  * `ORDER BY cnt DESC, v DESC LIMIT 1` in the oracle (the q1 argmax
  * pattern). min/max/top evaluate on the TYPED column (numeric order
  * for numerics), cast to string only for the report row.
  */
object Profiling {

  /** Single-column profile: one row with the column's report fields. */
  private def profileOne(df: DataFrame, name: String): DataFrame =
    profileHist(df.groupBy(df(name).as("v")).agg(count(lit(1)).as("cnt")), name)

  /** The profile reduction over an already-built value histogram
    * (columns `v`, `cnt`) — shared by the one-shot and incremental
    * paths, so "merge histograms then profile" is definitionally the
    * same report as "profile the union". */
  private def profileHist(hist: DataFrame, name: String): DataFrame = {
    hist.agg(
      lit(name).as("column_name"),
      coalesce(sum("cnt"), lit(0L)).cast("long").as("n_rows"),
      coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).cast("long").as("n_nulls"),
      count(col("v")).cast("long").as("n_distinct"),
      min(col("v")).cast("string").as("min_val"),
      max(col("v")).cast("string").as("max_val"),
      max(when(col("v").isNotNull, struct(col("cnt"), col("v")))).as("top"))
      .select(
        col("column_name"), col("n_rows"), col("n_nulls"), col("n_distinct"),
        col("min_val"), col("max_val"),
        col("top.v").cast("string").as("top_val"),
        col("top.cnt").cast("long").as("top_cnt"))
  }

  /** The documents-metadata columns q109/q113 profile. */
  private val ProfiledColumns = Seq("lang", "n_chars", "source")

  /** DuckDB oracle for q109/q113, GENERATED from [[ProfiledColumns]] so
    * the profiled column list lives in exactly one place (adding a
    * column updates operator and oracle together). The top-value
    * subquery LEFT JOINs ON TRUE so an empty or all-NULL column still
    * emits its report row (NULL mode, zero counts) — matching the Spark
    * reduction, which always produces one row per column. Modal
    * tie-break: largest value among equal counts (cnt DESC, v DESC),
    * matching `max(struct(cnt, v))`. */
  private[graft] def oracleSql: String = {
    val blocks = ProfiledColumns.map { c =>
      val hist = s"(SELECT $c AS v, COUNT(*) AS cnt FROM documents GROUP BY 1)"
      s"""SELECT '$c' AS column_name, a.n_rows, a.n_nulls, a.n_distinct,
         |  a.min_val, a.max_val, t.top_val, t.top_cnt
         |FROM (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_rows,
         |        CAST(COALESCE(SUM(CASE WHEN v IS NULL THEN cnt END), 0) AS BIGINT) AS n_nulls,
         |        CAST(COUNT(v) AS BIGINT) AS n_distinct,
         |        CAST(MIN(v) AS VARCHAR) AS min_val, CAST(MAX(v) AS VARCHAR) AS max_val
         |      FROM $hist) a
         |LEFT JOIN (SELECT CAST(v AS VARCHAR) AS top_val, CAST(cnt AS BIGINT) AS top_cnt
         |           FROM $hist WHERE v IS NOT NULL
         |           ORDER BY cnt DESC, v DESC LIMIT 1) t ON TRUE""".stripMargin
    }
    blocks.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  /** q109 — profile of the `documents` table's categorical + numeric
    * metadata columns (`lang`, `source`, `n_chars`), one report row per
    * column, ordered by column name. */
  def documentsProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    ProfiledColumns
      .map(c => profileOne(docs, c))
      .reduce(_.unionAll(_))
      .orderBy("column_name")
  }

  /** q113 — INCREMENTAL profile maintenance: q109's report produced
    * WITHOUT rescanning history. Value histograms are sufficient
    * statistics for every profile field (counts add; distinct, min/max
    * and the mode are functions of the merged histogram), so the
    * history histograms (doc_id%10≠9) are built once per corpus dir,
    * persisted vocabulary-bounded, and FROZEN; an arriving increment
    * pays only its own histogram shuffle plus a null-safe full-outer
    * merge against the frozen model — the q106-vs-q105 / tokenDriftOf
    * pairing applied to profiling. On the canonical %10=9 batch the
    * merged report is DEFINITIONALLY the one-shot q109 (same reduction
    * over an equal histogram), so q113 shares q109's DuckDB oracle —
    * the q57/q32 shared-oracle pattern: one semantic definition, two
    * physical shapes.
    *
    * At 100 TB: a daily drop re-profiles the whole corpus for the cost
    * of profiling the drop — the production deployment appends the
    * batch histogram into the stored model afterward (counts add, so
    * the append is a histogram union, idempotent per batch id). */
  def documentsProfileIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val batchFilter = pmod(col("doc_id"), lit(10)) === 9
    ProfiledColumns.map { c =>
      val hist = TextAnalysis.memoPersist(spark, dir, s"profile_hist:$c") {
        docs.where(!batchFilter).groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
      }.select(col("v").as("hv"), col("cnt").as("hcnt"))
      val batch = docs.where(batchFilter)
        .groupBy(col(c).as("bv")).agg(count(lit(1)).as("bcnt"))
      val merged = batch.join(hist, col("bv") <=> col("hv"), "full_outer")
        .select(coalesce(col("bv"), col("hv")).as("v"),
          (coalesce(col("bcnt"), lit(0L)) + coalesce(col("hcnt"), lit(0L))).as("cnt"))
      profileHist(merged, c)
    }.reduce(_.unionAll(_)).orderBy("column_name")
  }
}
