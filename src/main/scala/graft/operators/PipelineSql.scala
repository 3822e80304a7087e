package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** SQL-text reachability for the LLM-pipeline surface.
  *
  * Every pipeline operator on the surface is a DataFrame function; a
  * user who lives in `spark.sql` couldn't call any of it until this
  * object. [[registerPipelineViews]] exposes the corpus tables AND the
  * flagship pipeline operators (exact dedup, portable LSH candidates,
  * BM25 retrieval, the curation gate) as temp views, and
  * [[curationReport]] (q100) is the proof query: its Spark side is ONE
  * `spark.sql` text composing those views — no DataFrame combinators —
  * and it is hash-gated against a DuckDB oracle that re-derives all
  * four operators from scratch.
  *
  * This is the same reachability contract q59 established for the
  * relational surface (reference StreamingJob.scala has no SQL API at
  * all — its one job is hard-coded): views make the operator outputs
  * addressable by name, and Catalyst plans the composed SQL exactly as
  * it plans the DataFrame form (same pushdowns, same broadcasts — the
  * view boundary is dissolved at analysis time, so there is no
  * performance cliff between the two APIs).
  *
  * Scale shape: inherited wholesale from the composed operators — the
  * report adds two non-amplifying per-doc joins (exact keeper on the
  * 16-byte digest, gate verdict on doc_id), two broadcast-sized left
  * joins (LSH-flagged docs, BM25 top-10), and one final groupBy on
  * `source` (domain cardinality). Nothing here introduces a new
  * shuffle class beyond what q27/q29c/q75/q90 already pay.
  */
object PipelineSql {

  /** Register the corpus tables and flagship pipeline operators as temp
    * views — the `spark.sql` entry point to the pipeline surface.
    * Idempotent per session (createOrReplace); the expensive artifacts
    * behind the views (persisted span/label/model tables) keep their
    * own fingerprint-cached lifecycles. */
  def registerPipelineViews(spark: SparkSession, dir: String): Unit = {
    Tables.documents(spark, dir).createOrReplaceTempView("documents_v")
    Tables.embeddings(spark, dir).createOrReplaceTempView("embeddings_v")
    // unordered composition forms: a view consumed by joins/aggregates
    // must not carry its query's presentation sort (the positional
    // verify contracts live on the qNN entries, not here)
    Dedup.exactDedupUnordered(spark, dir).createOrReplaceTempView("exact_dedup_v")
    Dedup.lshPairsTable(spark, dir).createOrReplaceTempView("lsh_candidates_v")
    TextAnalysis.bm25TopDocs(spark, dir).createOrReplaceTempView("bm25_top_v")
    TextAnalysis.curationGateOf(spark, dir, Tables.documents(spark, dir))
      .createOrReplaceTempView("curation_gate_v")
  }

  /** q100 — per-source curation decision report, written as PURE SQL
    * TEXT over the registered pipeline views: how many documents each
    * source contributes, how many are exact duplicates (non-keepers
    * under q27's min-doc_id rule), how many are flagged by the LSH
    * near-dup candidates (appear as the LATER doc of a candidate pair —
    * q73's "has an earlier near-dup" convention), how many pass the
    * 4-signal curation gate, how many land in the BM25 top-10 for the
    * standing query, and the final keep count (exact keeper ∧ not
    * LSH-flagged ∧ gate-pass). All counts are BIGINT — hash-exact. */
  def curationReport(spark: SparkSession, dir: String): DataFrame = {
    registerPipelineViews(spark, dir)
    spark.sql(
      """SELECT d.source,
        |  COUNT(*) AS n_docs,
        |  SUM(CASE WHEN d.doc_id <> e.keep_doc_id THEN 1 ELSE 0 END) AS n_exact_dupes,
        |  SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS n_lsh_flagged,
        |  SUM(CASE WHEN g.keep THEN 1 ELSE 0 END) AS n_gate_keep,
        |  SUM(CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS n_bm25_top10,
        |  SUM(CASE WHEN d.doc_id = e.keep_doc_id AND c.doc_id IS NULL AND g.keep
        |      THEN 1 ELSE 0 END) AS n_final_keep
        |FROM documents_v d
        |JOIN exact_dedup_v e
        |  ON md5(lower(regexp_replace(d.text, '\\s+', ' '))) = e.text_md5
        |LEFT JOIN (SELECT DISTINCT d2 AS doc_id FROM lsh_candidates_v) c
        |  ON c.doc_id = d.doc_id
        |LEFT JOIN (SELECT DISTINCT doc_id FROM bm25_top_v) b
        |  ON b.doc_id = d.doc_id
        |JOIN curation_gate_v g
        |  ON g.doc_id = d.doc_id
        |GROUP BY d.source
        |ORDER BY d.source""".stripMargin)
  }

  /** q101 — the q31 SimHash near-pair pipeline written as PURE SQL TEXT
    * over the REGISTERED native functions (`graft_simhash64`,
    * `graft_hexhamming`): sketch → 4-digit bands → capped buckets →
    * in-bucket pair expansion → exact bit-Hamming verify ≤ 6. Same
    * output contract as q31 (shared DuckDB oracle), so the gate proves
    * the SparkSessionExtensions registration path end-to-end — the
    * codegen'd expressions resolve by NAME inside `spark.sql` text and
    * produce the byte-identical pair set the DataFrame form does.
    *
    * [[graft.functions.GraftExtensions.requireInstalled]] rejects a
    * session built without the extension before any work starts.
    * Scale shape: identical to q31 — one sketch pass,
    * bucket-local expansion bounded by MaxBucket², distinct only over
    * surviving near-pairs. */
  def sqlSimhashNearPairs(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExtensions.requireInstalled(spark)
    Tables.documents(spark, dir).createOrReplaceTempView("documents_v")
    spark.sql(
      s"""WITH sh AS (
        |  SELECT doc_id, graft_simhash64(split(text, '\\\\s+')) AS simhash FROM documents_v),
        |banded AS (
        |  SELECT doc_id, simhash, band_idx, substr(simhash, band_idx * 4 + 1, 4) AS band_val
        |  FROM sh LATERAL VIEW explode(sequence(0, 3)) t AS band_idx),
        |bucketed AS (
        |  SELECT band_idx, band_val,
        |         array_sort(collect_list(struct(doc_id, simhash))) AS all_members
        |  FROM banded GROUP BY band_idx, band_val),
        |buckets AS (
        |  SELECT slice(all_members, 1, ${Dedup.MaxBucket}) AS members
        |  FROM bucketed WHERE size(all_members) >= 2),
        |pairs AS (
        |  SELECT explode(flatten(transform(members, (x, i) ->
        |           transform(slice(members, i + 2, size(members)), y ->
        |             named_struct('d1', x.doc_id, 'h1', x.simhash,
        |                          'd2', y.doc_id, 'h2', y.simhash))))) AS p
        |  FROM buckets)
        |SELECT DISTINCT p.d1 AS d1, p.d2 AS d2,
        |       CAST(graft_hexhamming(p.h1, p.h2) AS BIGINT) AS hamming
        |FROM pairs WHERE graft_hexhamming(p.h1, p.h2) <= 6
        |ORDER BY d1, d2""".stripMargin)
  }

  /** q102 — brute-force cosine top-5 (the q33 ANN baseline) as PURE SQL
    * TEXT over `embeddings_v`: the vector arm of the SQL-reachability
    * contract (q59 relational, q100 pipeline composition, q101 native
    * sketch functions). The dot products are the SAME
    * [[Similarity.dotDec]] zip_with/aggregate exact-decimal fragment the
    * DataFrame form parses via `expr(...)`, so cos_sim is bit-identical
    * by construction and q102 shares q33's oracle verbatim. The
    * BROADCAST hint on the ≤5-row query side mirrors the DataFrame
    * form's explicit `broadcast(q)` — at 100 TB the corpus side stays a
    * map-side scan and the only shuffle is the per-query top-k window. */
  def sqlKnnBrute(spark: SparkSession, dir: String): DataFrame = {
    // dotDec resolves to the registered graft_dot_dec kernel (r18), and
    // the plan needs the extension's BNLJ streamed-side barrier
    graft.functions.GraftExtensions.requireInstalled(spark)
    Tables.embeddings(spark, dir).createOrReplaceTempView("embeddings_v")
    spark.sql(
      s"""WITH n AS (
        |  SELECT vec_id, embedding,
        |         sqrt(${Similarity.dotDec("embedding", "embedding")}) AS nrm
        |  FROM embeddings_v),
        |q AS (SELECT vec_id AS q_id, embedding AS qe, nrm AS qn
        |      FROM n WHERE vec_id <= 4),
        |scored AS (
        |  SELECT /*+ BROADCAST(q) */ q.q_id, n.vec_id AS n_id,
        |         ${Similarity.dotDec("q.qe", "n.embedding")} / (q.qn * n.nrm) AS cos_sim
        |  FROM n JOIN q ON q.q_id <> n.vec_id),
        |r AS (SELECT q_id, n_id, cos_sim,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC) AS BIGINT) AS rank
        |      FROM scored)
        |SELECT q_id, n_id, cos_sim, rank FROM r WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin)
  }

  /** q114 — the q108 run-collapse rewrite as PURE SQL TEXT, resolving
    * the round-10 native kernel BY NAME (`graft_collapse_runs`) through
    * the SparkSessionExtensions registration — the q101 contract (every
    * native expression reachable from SQL text) extended to the newest
    * kernel, sharing q108's oracle verbatim: one definition, two API
    * surfaces. Same plan as q108 — zero-shuffle scan → compiled kernel
    * projection → contract sort. */
  def sqlRunCollapse(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExtensions.requireInstalled(spark)
    Tables.documents(spark, dir).createOrReplaceTempView("documents_v")
    spark.sql(
      s"""SELECT doc_id,
        |  r.n_tokens AS n_tokens,
        |  r.n_clean AS n_tokens_clean,
        |  r.n_tokens - r.n_clean AS n_dropped,
        |  r.n_runs_collapsed AS n_runs_collapsed,
        |  r.max_run AS max_run,
        |  r.text_clean AS text_clean
        |FROM (SELECT doc_id,
        |        graft_collapse_runs(${TextAnalysis.toksExpr}, ${TextAnalysis.MaxRun}) AS r
        |      FROM documents_v)
        |ORDER BY doc_id""".stripMargin)
  }

  /** q116 — the drift-monitor PANEL as one SQL text: the three monitor
    * legs (token q111, embedding q112, source q115) registered as temp
    * views and fused into a single long-format report — (monitor, item,
    * batch_cnt, hist_cnt, drift) — the one table an on-call reads when
    * a drop lands. The q100 composition contract applied to the
    * monitoring family: every row is produced by an independently
    * hash-gated operator, and the panel's own oracle re-derives all
    * three legs as CTEs, so the composition is gated end-to-end too.
    * Scale shape: the three legs' own (vocabulary / label×64 / source)
    * bounded shuffles, unioned — nothing new materializes. */
  def monitorPanel(spark: SparkSession, dir: String): DataFrame = {
    TextAnalysis.tokenDrift(spark, dir).createOrReplaceTempView("token_drift_v")
    Similarity.embeddingDrift(spark, dir).createOrReplaceTempView("embedding_drift_v")
    TextAnalysis.sourceDrift(spark, dir).createOrReplaceTempView("source_drift_v")
    spark.sql(
      """SELECT 'embedding' AS monitor, CAST(label AS STRING) AS item,
        |       n_batch AS batch_cnt, n_hist AS hist_cnt, l1_drift AS drift
        |FROM embedding_drift_v
        |UNION ALL
        |SELECT 'source', source, docs_batch, docs_hist, share_drift FROM source_drift_v
        |UNION ALL
        |SELECT 'token', tok, cnt_batch, cnt_hist, drift FROM token_drift_v
        |ORDER BY monitor, item""".stripMargin)
  }
}
