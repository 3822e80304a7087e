package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.FloatVecDot
import graft.sources.{Artifacts, Tables}

/** Similarity search over the `embeddings` table (array<float>, dim 64).
  *
  * Cross-engine float determinism: a dot product summed in double is
  * order-dependent, so every reduction routes each product through
  * DECIMAL(38,30) (exact, order-free sum), rounds the result to scale 12
  * (so the scaled integer fits in 2^53 — the decimal→double cast is then
  * single-rounded on both engines), and only then casts to double. sqrt
  * and division are correctly-rounded IEEE ops everywhere, so the final
  * cosine is bit-identical between Spark and DuckDB with NO tolerance.
  *
  * Scale shape: brute-force top-k is a broadcast of the (tiny) query set
  * against a map-side scan — no shuffle except the final top-k; the LSH
  * variant buckets candidates so the pair space is bucket-local. At 100 TB
  * the LSH path is the default and brute force is the per-bucket kernel.
  */
object Similarity {

  /** Exact-decimal dot product of two float-array columns (SQL fragment).
    *
    * DECIMAL(18,12): precision ≤ 18 keeps Spark's Decimal Long-backed
    * (an order of magnitude faster than the int128 path) while scale 12
    * still rounds each float product deterministically on both engines.
    * The merge lambda re-casts because Spark's decimal addition widens
    * the type; the value always fits (|dot| ≤ 64). */
  private[graft] def dotDec(a: String, b: String): String =
    // r18 optimization round: was the interpreted HOF fragment
    //   CAST(ROUND(aggregate(zip_with($a, $b, (x, y) ->
    //     CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(18,12))),
    //     CAST(0 AS DECIMAL(18,12)), (acc, v) -> CAST(acc + v AS DECIMAL(18,12))), 12) AS DOUBLE)
    // — two boxed-Decimal lambdas + a zip_with array materialization per
    // evaluation, sitting on every exact-cosine verify in the ANN family
    // (per candidate pair). [[graft.functions.DecVecDot]] is the same
    // arithmetic bit-identically as a codegen'd loop (ExtensionsSpec pins
    // kernel ≡ HOF on open inputs + all edge shapes); every DuckDB oracle
    // still re-derives the HOF form, so the gate covers the swap.
    s"graft_dot_dec($a, $b)"

  /** Fast IEEE-double dot product via the native codegen expression
    * [[FloatVecDot]] — same sequential fold order as the HOF formulation
    * (bit-identical per engine) but runs as an inlined loop inside
    * whole-stage codegen instead of interpreted lambdas. Used for the
    * prefilter and LSH bucketing, where per-engine determinism suffices. */
  private[graft] def fdot(a: Column, b: Column): Column =
    ColumnBridge.of(FloatVecDot(ColumnBridge.expr(a), ColumnBridge.expr(b)))

  /** vec_id, embedding, nrm (L2 norm, bit-deterministic). */
  private def withNorm(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"),
        sqrt(expr(dotDec("embedding", "embedding"))).as("nrm"))

  /** Per-label centroid components — label-centroid op over dims 1..64. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
      .agg((round(sum(col("v").cast("double").cast("decimal(18,12)")), 12).cast("double")
        / count(lit(1))).as("centroid"))
      .orderBy("label", "dim")

  /** Per-label centroids through the typed [[graft.functions.VectorAggregates.CentroidAgg]]
    * Aggregator — same results as [[labelCentroids]] (shared oracle), very
    * different physical shape: ONE input row per vector (no 64× posexplode
    * blowup), partial aggregation map-side, the shuffle carries one
    * 64-component exact-decimal buffer per (label × partition). The fully
    * general custom-UDAF form for when an aggregate can't be composed
    * from built-ins. */
  def labelCentroidsAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val agg = new graft.functions.VectorAggregates.CentroidAgg(64)
    Tables.embeddings(spark, dir)
      .select(col("label"), col("embedding"))
      .as[(Int, Array[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn.name("centroids"))
      .toDF("label", "centroids")
      .select(col("label"), posexplode(col("centroids")).as(Seq("pos", "centroid")))
      .select(col("label"), (col("pos") + 1).cast("long").as("dim"), col("centroid"))
      .orderBy("label", "dim")
  }

  /** Brute-force cosine top-5 for query vectors vec_id 0..4 — the exact
    * baseline every ANN variant is measured against. The query side is
    * broadcast; ranking is windowed per query with an id tie-break. */
  def knnBrute(spark: SparkSession, dir: String): DataFrame = {
    val n = withNorm(spark, dir)
    val q = n.where(col("vec_id") <= 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    val c = n.select(col("vec_id").as("n_id"), col("embedding").as("ne"), col("nrm").as("nn"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (expr(dotDec("qe", "ne")) / (col("qn") * col("nn"))).as("cos_sim"))
    val byCos = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(byCos).cast("long"))
      .where(col("rank") <= 5)
      .select(col("q_id"), col("n_id"), col("cos_sim"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** Embedding-cosine near-duplicate pairs (cos >= 0.4 on this synthetic
    * near-orthogonal corpus), ALL-PAIRS — the exact in-bucket kernel and
    * recall baseline. NOT the scale path: the flagship near-dup query is
    * [[embeddingNearDupPairsLsh]], whose candidate generation is
    * bucket-local (no nested-loop join over the full table).
    *
    * `every` pins the baseline to the deterministic `vec_id % every = 0`
    * subset, so the top-level q34 entry never runs a full-corpus O(n²)
    * plan — the SparkEntry query goes through
    * [[embeddingNearDupPairsAudit]] (a CONSTANT-size slice at any corpus
    * size, oracle mirrored); specs call every=1 on the tiny sf0.001
    * fixture to measure LSH recall against the complete ground truth. */
  def embeddingNearDupPairs(spark: SparkSession, dir: String, every: Int = 1): DataFrame = {
    val n0 = withNorm(spark, dir)
    val n = if (every == 1) n0 else n0.where(pmod(col("vec_id"), lit(every)) === 0)
    // the nested-loop join parallelizes over the STREAMED side's partitions,
    // and a small parquet file scans as one split — spread the O(n²) loop
    // across the cluster explicitly (results are order-independent)
    val streamParts = spark.sparkContext.defaultParallelism * 2
    val a = n.repartition(streamParts)
      .select(col("vec_id").as("v1"), col("embedding").as("e1"), col("nrm").as("n1"))
    val b = n.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("nrm").as("n2"))
    a.join(b, col("v1") < col("v2"))
      // two-phase scoring: a cheap codegen'd double dot-product prefilter
      // kills ~all of the O(n²) pair space; the exact decimal cosine then
      // re-scores only the survivors, so the ≥0.4 cut is still taken on
      // the oracle-exact value
      .where(fdot(col("e1"), col("e2")) / (col("n1") * col("n2")) >= 0.4 - 1e-6)
      .select(col("v1"), col("v2"),
        (expr(dotDec("e1", "e2")) / (col("n1") * col("n2"))).as("cos_sim"))
      .where(col("cos_sim") >= 0.4)
      .orderBy("v1", "v2")
  }

  /** The audit slice keeps ~[[AuditRows]] rows REGARDLESS of corpus size:
    * modulus = ceil(n / AuditRows), so the exact-baseline pair work is
    * O(AuditRows²) — a constant — at any scale (a fixed fraction would
    * grow the quadratic term 100× per 10× of data). */
  val AuditRows = 128

  /** Modulus that keeps ~[[AuditRows]] of `n` rows under `vec_id % m = 0`. */
  def auditModulus(n: Long): Long = math.max(1L, (n + AuditRows - 1) / AuditRows)

  /** q34 entry: the exact all-pairs baseline on a constant-size audit
    * slice. The corpus count is read once at plan-construction time (a
    * parquet-footer-cheap action, mirrored by the oracle's scalar
    * subquery); empty input degrades to modulus 1 over zero rows. */
  def embeddingNearDupPairsAudit(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.embeddings(spark, dir).count()
    embeddingNearDupPairs(spark, dir, every = auditModulus(n).toInt)
  }

  /** Banded sign-LSH parameters for the near-dup flagship: [[NdBands]]
    * bands × [[NdPlanesPerBand]] fixed pseudo-hyperplanes each (fresh LCG
    * stream, independent of the [[planes]] used by [[annLshTop3]]).
    *
    * Candidate recall at cos = c is 1 − (1 − p^3)^8 with
    * p = 1 − acos(c)/π: ≈ 0.90 at c = 0.4, ≈ 0.97 at c = 0.6, → 1 for
    * true duplicates. At 100 TB, planes-per-band scales with log(n) to
    * hold bucket sizes constant; bands trade shuffle volume for recall. */
  private val NdBands = 8
  private val NdPlanesPerBand = 3
  private val ndPlanes: Array[Array[Double]] = {
    var x = 0x0BADCAFEL
    Array.fill(NdBands * NdPlanesPerBand, 64) {
      x = x * 6364136223846793005L + 1442695040888963407L
      (x >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
  }

  /** The hyperplanes as a DuckDB nested-list literal, for the oracle. */
  def ndPlanesSqlLiteral: String =
    ndPlanes.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")

  /** Exact-decimal dot product against a fixed plane — the same
    * DECIMAL(18,12) routing as [[dotDec]], so the SIGN (the LSH bit) is
    * bit-identical between Spark and DuckDB even when the dot is ~0. */
  private def dotDecPlane(e: Column, plane: Array[Double]): Column =
    // r18: same kernel swap as [[dotDec]] — the HOF form here was
    // round(aggregate(zip_with(e, typedlit(plane), (x, y) ->
    //   (x.cast(double) * y).cast(decimal(18,12))), 0(18,12),
    //   (acc, v) -> (acc + v).cast(decimal(18,12))), 12).cast(double),
    // arithmetic-identical to dotDec's (y is already double), so
    // [[graft.functions.DecVecDot]] serves both
    ColumnBridge.of(graft.functions.DecVecDot(
      ColumnBridge.expr(e), ColumnBridge.expr(typedlit(plane))))

  /** Hybrid sign bit of dot(embedding, plane) — oracle-portable AND
    * codegen-fast: the codegen'd double dot decides whenever it is safely
    * nonzero (|dot| > 1e-6 — the decimal and double folds can only
    * disagree within ~1e-10: 64 products each rounded at 1e-12 plus the
    * double fold's own ~1-ulp error), and only a near-zero dot falls back
    * to the exact-decimal fold the oracle computes. CaseWhen evaluates
    * value branches lazily, so the interpreted decimal path runs on the
    * rare boundary rows instead of every row — the bits stay bit-identical
    * to DuckDB while the common case stays inside codegen. */
  private def hybridSign(plane: Array[Double]): Column = {
    val fast = fdot(col("embedding"), typedlit(plane))
    when(abs(fast) > 1e-6, fast >= 0d)
      .otherwise(dotDecPlane(col("embedding"), plane) >= 0d)
  }

  /** Band key (0..7) for band `b`: 3 hybrid sign bits from the band's
    * planes (see [[hybridSign]]). */
  private def ndBandKey(b: Int): Column =
    (0 until NdPlanesPerBand).map { j =>
      when(hybridSign(ndPlanes(b * NdPlanesPerBand + j)), lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** FLAGSHIP embedding near-dup: banded sign-LSH blocking + exact
    * decimal cosine verification (cos >= 0.4, same threshold and output
    * schema as [[embeddingNearDupPairs]]).
    *
    * Scale shape: one shuffle on (band_idx, band_key); the O(k²) pair
    * expansion is confined to each bucket's member array, capped at
    * [[Dedup.MaxBucket]] smallest vec_ids with the overflow `observe`d
    * (see Dedup's cap rationale); candidates that collide in several
    * bands are de-duplicated before the exact (decimal) re-score. The
    * plan contains NO nested-loop join — candidate generation is linear
    * in n, not quadratic. */
  def embeddingNearDupPairsLsh(spark: SparkSession, dir: String): DataFrame = {
    Diagnostics.install(spark)
    val n = withNorm(spark, dir)
    val banded = n.select(col("vec_id"), col("embedding"), col("nrm"),
      posexplode(array((0 until NdBands).map(ndBandKey): _*)).as(Seq("band_idx", "band_key")))
    val buckets = banded
      .groupBy(col("band_idx"), col("band_key"))
      .agg(array_sort(collect_list(struct(col("vec_id"), col("embedding"), col("nrm")))).as("all_members"))
      .where(size(col("all_members")) >= 2)
      .withColumn("members", slice(col("all_members"), 1, Dedup.MaxBucket))
      .observe("q34b_lsh_buckets",
        sum(greatest(size(col("all_members")) - Dedup.MaxBucket, lit(0))).as("overflow_members_dropped"),
        count(lit(1)).as("n_buckets"))
    buckets
      .select(explode(expr(
        """flatten(transform(members, (x, i) ->
          |  transform(slice(members, i + 2, size(members)), y ->
          |    named_struct('v1', x.vec_id, 'e1', x.embedding, 'n1', x.nrm,
          |                 'v2', y.vec_id, 'e2', y.embedding, 'n2', y.nrm))))""".stripMargin)).as("p"))
      .select(col("p.v1").as("v1"), col("p.e1").as("e1"), col("p.n1").as("n1"),
        col("p.v2").as("v2"), col("p.e2").as("e2"), col("p.n2").as("n2"))
      // cheap codegen'd prefilter BEFORE the distinct: kills non-dup
      // candidates so the dedup shuffle only carries plausible pairs
      .where(fdot(col("e1"), col("e2")) / (col("n1") * col("n2")) >= 0.4 - 1e-6)
      .distinct() // the same pair can collide in several bands
      .select(col("v1"), col("v2"),
        (expr(dotDec("e1", "e2")) / (col("n1") * col("n2"))).as("cos_sim"))
      .where(col("cos_sim") >= 0.4)
      .orderBy("v1", "v2")
  }

  /** The source table of every artifact in this object. */
  private val Emb = Seq("embeddings")

  /** The persisted FULL-CORPUS near-dup pair artifact: q34b's flagship
    * banded-LSH chain ([[embeddingNearDupPairsLsh]]), built once per
    * corpus fingerprint under the [[graft.sources.Artifacts]] contract —
    * same pattern as Dedup's `lsh_pairs_xx`. q34b itself stays fully
    * live (it's the gated pair query); downstream consumers (q160's
    * isolation audit) read this instead of re-deriving the chain. */
  private[graft] def embLshPairsTable(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "emb_pairs", NdBands * 1000 + Dedup.MaxBucket, Emb)(
      embeddingNearDupPairsLsh(spark, dir))

  /** q160 — embedding ISOLATION audit (the OOD / diversity-keep signal;
    * the complement of SemDeDup-style redundancy pruning — Abbas et al.
    * 2023, and the D4 recipe of Tirumala et al. 2023, which protects
    * sparse-neighborhood points precisely because they carry the
    * distribution's tail): a vector is MATCHED when the flagship
    * near-dup path found it at least one neighbor at exact cosine
    * ≥ 0.4; vectors with none are ISOLATED. Per label: counts and the
    * rounded isolation rate — the panel a curation run reads before
    * deciding how hard to prune each class.
    *
    * Scale shape: the pair set is the persisted capped-LSH artifact
    * ([[embLshPairsTable]]); the audit is a membership probe (union →
    * distinct over pair endpoints, a pair-set-sized aggregate) + one
    * label groupBy over the corpus — nothing quadratic, nothing
    * corpus-sized past the groupBy. */
  def embeddingIsolation(spark: SparkSession, dir: String): DataFrame = {
    val pairs = embLshPairsTable(spark, dir)
    val matched = pairs.select(col("v1").as("vec_id"))
      .union(pairs.select(col("v2").as("vec_id")))
      .distinct()
      .withColumn("m", lit(1))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
      .join(matched, Seq("vec_id"), "left")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("m").isNotNull, 1L).otherwise(0L)).as("n_matched"))
      .select(col("label"), col("n_vecs"), col("n_matched"),
        (col("n_vecs") - col("n_matched")).as("n_isolated"),
        round((col("n_vecs") - col("n_matched")).cast("double") / col("n_vecs").cast("double"), 6)
          .as("isolation_rate"))
      .orderBy("label")
  }

  /** Embedding-space agreement threshold for [[modalitySkew]] — the
    * corpus's established near-dup cosine cut (q34/q34b). */
  val SkewCosineFloor = 0.4

  /** q168 — MODALITY-SKEW audit: for every near-dup TEXT pair (q28's
    * exact-Jaccard verdicts), does the EMBEDDING table agree? A pipeline
    * that re-crawls text but back-fills embeddings asynchronously drifts
    * the two representations apart; every downstream consumer that mixes
    * them (semantic dedup q73, ANN serving, cluster-safe splits) then
    * acts on stale vectors. Per pair: the exact-decimal cosine and a
    * three-way status — `aligned` (cosine ≥ [[SkewCosineFloor]]),
    * `skewed` (near-dup text, far embeddings → re-embed these rows), or
    * `missing_embedding` (one endpoint has no vector yet — the backfill
    * backlog; at sf0.1 the embedding table genuinely covers only part of
    * the corpus, so this leg carries live rows, not zeros).
    *
    * Scale shape: the pair set is the persisted artifact-backed q28
    * candidate set (pair-graph-bounded); it BROADCASTS as the build
    * side of two INNER joins that stream the embeddings scan (a
    * left-outer cannot build its preserved side, and broadcasting the
    * corpus-sized embeddings instead would be the 100 TB scale bug —
    * so the missing leg is recovered separately by a broadcast
    * anti-join against the pair-bounded matched keys). Every decimal
    * fold (dot + both norms) runs POST-join on pair rows only — the
    * q153 lesson: never compute an interpreted per-row fold on the
    * probe side of a broadcast join. */
  def modalitySkew(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.nearDupJaccard(spark, dir)
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cos = expr(dotDec("e1", "e2")) /
      (sqrt(expr(dotDec("e1", "e1"))) * sqrt(expr(dotDec("e2", "e2"))))
    val present = e.select(col("vec_id").as("d1"), col("embedding").as("e1"))
      .join(broadcast(pairs), Seq("d1"))
    // MATERIALIZED once (r15, advisory): `both` feeds the union AND the
    // missing-leg anti-join key set; left lazy, the anti-join re-executed
    // both embeddings joins a second time (column pruning drops the
    // cosine but not the corpus scan). The table is pair-bounded, so an
    // eager localCheckpoint is a small in-memory pin, not a corpus cache.
    val both = e.select(col("vec_id").as("d2"), col("embedding").as("e2"))
      .join(broadcast(present), Seq("d2"))
      .select(col("d1"), col("d2"), col("jaccard"), cos.as("cos_sim"))
      .localCheckpoint(true)
    val missing = pairs
      .join(broadcast(both.select("d1", "d2")), Seq("d1", "d2"), "left_anti")
      .select(col("d1"), col("d2"), col("jaccard"),
        lit(null).cast("double").as("cos_sim"))
    both.unionByName(missing)
      .withColumn("status",
        when(col("cos_sim").isNull, "missing_embedding")
          .when(col("cos_sim") >= SkewCosineFloor, "aligned")
          .otherwise("skewed"))
      .orderBy("d1", "d2")
  }

  /** IVF parameters: [[NumCells]] fixed unit-norm pseudo-centroids from
    * the LCG partition the space into Voronoi cells (by cosine = max dot
    * with a unit centroid). Production IVF would k-means these on a
    * sample; fixed centroids keep the operator deterministic with the
    * same plan shape. */
  private val NumCells = 16
  private val ivfCentroids: Array[Array[Double]] = {
    var x = 0x1CEB00DAL
    Array.fill(NumCells, 64) {
      x = x * 6364136223846793005L + 1442695040888963407L
      (x >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }.map { v =>
      val n = math.sqrt(v.map(d => d * d).sum)
      v.map(_ / n)
    }
  }

  /** The IVF centroids as a DuckDB nested-list literal, for the oracle. */
  def ivfCentroidsSqlLiteral: String =
    ivfCentroids.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")

  /** Exact-decimal per-cell dot scores (each score is the
    * DECIMAL(18,12)-summed dot cast to double, bit-identical between
    * Spark and DuckDB). */
  private[graft] def cellScoresDecCol(centroids: Array[Array[Double]]): Column =
    array(centroids.toIndexedSeq.map(c => dotDecPlane(col("embedding"), c)): _*)

  /** Nearest-centroid id (0-based, first-index tie-break) in ONE
    * codegen'd kernel call (r19): the codegen'd double scores decide
    * whenever the top-2 gap is safely wide (> 1e-6 — a double score
    * differs from its decimal twin by < ~1e-10, so a wide gap can't flip
    * the winner), and only near-tied rows fall back to the exact-decimal
    * scores the oracle computes. See [[graft.functions.IvfAssignCell]];
    * ExtensionsSpec pins it to the column form in test sources. */
  private[graft] def ivfCellCol(centroids: Array[Array[Double]]): Column =
    ColumnBridge.of(graft.functions.IvfAssignCell(
      ColumnBridge.expr(col("embedding")), centroids))

  /** vec_id, embedding, nrm, cell (hybrid decimal-portable argmax — see
    * [[ivfCellCol]]; no downstream consumer reads the intermediate
    * `fscores`, so the r19 kernel form drops the column). */
  private[graft] def ivfAssignments(spark: SparkSession, dir: String,
      centroids: Array[Array[Double]] = ivfCentroids): DataFrame =
    withNorm(spark, dir)
      .withColumn("cell", ivfCellCol(centroids))

  private val Dim = 64

  /** Deterministic training-sample predicate: Knuth multiplicative hash
    * on vec_id, keeping 1 row in [[SampleMod]]. Portable to DuckDB as
    * `(vec_id * 2654435761) % 2 = 0` (no overflow while vec_id < 2^63 /
    * 2654435761 ≈ 3.4e9; past that a production deployment swaps in
    * `pmod(xxhash64(vec_id), S)` and gives up the SQL oracle, not the
    * determinism). */
  private val SampleMult = 2654435761L
  private val SampleMod  = 2

  /** Exact decimal L2 norm of a driver-side vector — replicates the SQL
    * `sqrt(CAST(ROUND(SUM(CAST(c AS DECIMAL(28,12))²), 12) AS DOUBLE))`
    * bit-for-bit: each component is a round(·,12) decimal that round-trips
    * through double exactly, squares exactly at scale 24, sums exactly,
    * and the single scale-12 rounding happens before the double cast. */
  private def decNorm(v: Array[Double]): Double = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    var acc = JBD.ZERO
    v.foreach { d =>
      val x = new JBD(d).setScale(12, RoundingMode.HALF_UP)
      acc = acc.add(x.multiply(x))
    }
    math.sqrt(acc.setScale(12, RoundingMode.HALF_UP).doubleValue)
  }

  /** Trained models are frozen in two tiers: [[Tables.remember]]ed under
    * this name, and a parquet MODEL TABLE at an [[Artifacts.path]], so a
    * fresh JVM's first q60 loads k×64 doubles instead of retraining. */
  private[graft] final val IvfModels = "ivf_centroids"

  /** Batch residue for the q87 incremental convention (vec_id % 10 ==
    * [[BatchResidue]] is "the new batch"); encoded in the corpus-only
    * model path so a residue change can never serve a stale model. */
  private[graft] val BatchResidue = 8L

  /** `model`, or its corpus-only variant `<model>_corpus<BatchResidue>`. */
  private def modelName(model: String, corpusOnly: Boolean): String =
    if (corpusOnly) s"${model}_corpus$BatchResidue" else model

  /** Disk tier of the model cache: (cell, centroid) rows, one file. The
    * write is deterministic (the training itself is bit-deterministic),
    * so a rebuild from another JVM is a cache rebuild, not a change. */
  private def loadOrTrainPersisted(spark: SparkSession, dir: String, iters: Int,
      corpusOnly: Boolean = false)
      (train: => Array[Array[Double]]): Array[Array[Double]] = {
    val path = Artifacts.path(spark, dir, modelName("ivf_model", corpusOnly), iters, Emb)
    if (Artifacts.isBuilt(spark, path)) {
      val cents = Array.ofDim[Array[Double]](NumCells)
      Tables.parquet(spark, path).collect().foreach { r =>
        cents(r.getInt(0)) = r.getSeq[Double](1).toArray
      }
      require(cents.forall(_ != null), s"model table $path is torn")
      cents
    } else {
      val cents = train
      val rows = cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      spark.createDataFrame(rows.toSeq).toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(path)
      cents
    }
  }

  /** Spherical k-means training for the IVF centroids (Lloyd's
    * iterations), upgrading the fixed LCG seeds to data-adapted cells.
    *
    * Trains on the deterministic [[SampleMult]] hash sample (50% here;
    * at 100 TB the modulus grows so a few million vectors train the
    * cells and the per-iteration cost NEVER touches the full corpus).
    * Each iteration is one distributed pass over the sample: map-side
    * hybrid assignment ([[ivfCellCol]], no shuffle) → per-cell
    * component sums via 64 exact-DECIMAL(28,12) partial aggregates (ONE
    * shuffle of 64-value buffers, map-side combined) → a k×64-double
    * collect to the driver (the model — same driver-side footprint
    * MLlib's KMeans keeps). The un-meaned SUM vector is kept (the /count
    * scale factor cancels under normalization), normalized by its exact
    * decimal norm ([[decNorm]]), so the trained model is bit-deterministic
    * across partitionings, runs, AND engines — the q60 oracle re-derives
    * the same model in DuckDB SQL. Empty cells keep their previous
    * centroid. The result is remembered under [[IvfModels]]. */
  def trainIvfCentroids(spark: SparkSession, dir: String, iters: Int = 3,
      corpusOnly: Boolean = false): Array[Array[Double]] =
    Tables.remember(spark, IvfModels, Seq(iters, corpusOnly), Seq(Tables.path(dir, "embeddings")))(
      loadOrTrainPersisted(spark, dir, iters, corpusOnly) {
      val sample = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
        .where(pmod(col("vec_id") * SampleMult, lit(SampleMod.toLong)) === 0)
        // corpusOnly: hold out the incremental batch (vec_id % 10 = 8 —
        // an EVEN-ending residue, chosen because the parity-hash training
        // sample contains only even vec_ids: a %10=9 batch would never
        // intersect it and the holdout would be vacuous) so the model is
        // a pure function of the pre-batch corpus (q87)
        .where(if (corpusOnly) pmod(col("vec_id"), lit(10L)) =!= BatchResidue else lit(true))
      val sumAggs = (1 to Dim).map(i =>
        round(sum(expr(s"CAST(element_at(embedding, $i) AS DOUBLE)")
          .cast("decimal(28,12)")), 12).cast("double").as(s"c$i"))
      var cents = ivfCentroids
      for (_ <- 1 to iters) {
        val rows = sample
          .withColumn("cell", ivfCellCol(cents))
          .groupBy(col("cell")).agg(sumAggs.head, sumAggs.tail: _*)
          .collect()
        val next = cents.clone()
        rows.foreach { r =>
          val raw = Array.tabulate(Dim)(i => r.getDouble(i + 1))
          val n = decNorm(raw)
          if (n > 0) next(r.getInt(0)) = raw.map(_ / n)
        }
        cents = next
      }
      cents
    })

  /** IVF-style ANN: queries probe their `nprobe` best cells and brute-
    * force only those cells' members with the exact decimal cosine —
    * the second blocking scheme next to sign-LSH ([[annLshTop3]]).
    *
    * Scale shape: cell assignment is map-side (16 codegen'd dots/row, no
    * shuffle); the tiny probe set broadcasts, so candidates never
    * shuffle for the join; the per-query top-k runs in two phases
    * (salted local top-k, then a ≤ 32k-row final ranking) so one hot
    * query key can't serialize n/K candidate rows through one reducer.
    * Oracle-gated end-to-end: data-side cells use the hybrid decimal-
    * portable argmax ([[ivfCellCol]]) and the (tiny) query side ranks
    * its probe cells by the exact-decimal scores, so the whole candidate
    * set — and hence the output — is reproducible in DuckDB SQL. */
  def annIvfTopK(spark: SparkSession, dir: String, nprobe: Int = 4, k: Int = 5,
      centroids: Array[Array[Double]] = ivfCentroids): DataFrame = {
    val a = ivfAssignments(spark, dir, centroids)
    val data = a.select(col("vec_id").as("n_id"), col("embedding").as("ne"),
      col("nrm").as("nn"), col("cell"))
    // probe ranking on the exact-decimal scores: 16 interpreted decimal
    // dots on ~5 query rows — portability here is free
    val q = withNorm(spark, dir).where(col("vec_id") <= 4)
      .withColumn("dscores", cellScoresDecCol(centroids))
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("nrm").as("qn"),
        explode(expr(
          s"""slice(transform(array_sort(transform(dscores, (s, i) ->
             |  named_struct('negs', -s, 'idx', i))), x -> x.idx), 1, $nprobe)""".stripMargin))
          .as("probe_cell"))
    val cand = data
      .join(broadcast(q), col("cell") === col("probe_cell") && col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), col("cell").cast("long").as("cell"),
        (expr(dotDec("qe", "ne")) / (col("qn") * col("nn"))).as("cos_sim"))
    val bySim = Seq(col("cos_sim").desc, col("n_id").asc)
    val local = Window.partitionBy(col("q_id"), pmod(hash(col("n_id")), lit(32)))
      .orderBy(bySim: _*)
    val global = Window.partitionBy("q_id").orderBy(bySim: _*)
    cand
      .withColumn("r", row_number().over(local)).where(col("r") <= k).drop("r")
      .withColumn("rank", row_number().over(global).cast("long")).where(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cell"), col("cos_sim"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** [[annIvfTopK]] with k-means-trained centroids — the production IVF
    * (train once on a sample, freeze, search many). Same plan shape as
    * q47; only the 16 centroid values change, and after the first call
    * the frozen model comes from the memo ([[IvfModels]]) so the query is
    * assignment-only. Oracle-gated end-to-end: the DuckDB oracle
    * re-derives the identical trained model (the training math is
    * decimal-exact — see [[trainIvfCentroids]]) and replays the same
    * probe + rank pipeline. */
  def annIvfKmeansTopK(spark: SparkSession, dir: String, nprobe: Int = 4, k: Int = 5): DataFrame =
    annIvfTopK(spark, dir, nprobe, k, trainIvfCentroids(spark, dir))

  /** q166 — IVF cell-BALANCE report, the index-health panel a vector
    * store watches: per trained cell its population, corpus share, and
    * balance factor (share × number of populated cells — 1.0 is perfect
    * balance), with an `overloaded` verdict at 2× fair share. Cell skew
    * IS serving tail latency (a probe into a whale cell scans the
    * whale), and the standard remedies — re-train, split the cell,
    * raise nlist — all start from this table. Population counts only
    * cells that received vectors; both engines derive the same
    * assignment, so empty cells are absent on both sides.
    *
    * Scale shape: assignment is map-side (the hybrid cell argmax), the
    * report one cell-bounded groupBy + windows over ≤ NumCells rows. */
  def ivfCellBalance(spark: SparkSession, dir: String): DataFrame = {
    val a = ivfAssignments(spark, dir, trainIvfCentroids(spark, dir))
    val per = a.groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vecs"))
    val all = Window.partitionBy()
    per.withColumn("total", sum(col("n_vecs")).over(all))
      .withColumn("nc", count(lit(1)).over(all))
      .select(col("cell"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("total").cast("double"), 6).as("share"),
        round(col("n_vecs").cast("double") * col("nc").cast("double")
          / col("total").cast("double"), 6).as("balance_factor"),
        (col("n_vecs") * col("nc") > col("total") * lit(2L)).as("overloaded"))
      .orderBy("cell")
  }

  /** DuckDB oracle for [[ivfCellBalance]]: the trained-model chain
    * (q60's unrolled Lloyd derivation) down to full-corpus assignments,
    * then the same cell-bounded rollup. */
  def ivfCellBalanceOracleSql(iters: Int = 3): String =
    ivfModelPrefixSql(iters) +
      s"""per AS (SELECT CAST(cell AS BIGINT) AS cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
         |        FROM w GROUP BY 1)
         |SELECT cell, n_vecs,
         |  ROUND(CAST(n_vecs AS DOUBLE) / CAST(SUM(n_vecs) OVER () AS DOUBLE), 6) AS share,
         |  ROUND(CAST(n_vecs AS DOUBLE) * CAST(COUNT(*) OVER () AS DOUBLE)
         |        / CAST(SUM(n_vecs) OVER () AS DOUBLE), 6) AS balance_factor,
         |  (n_vecs * COUNT(*) OVER () > SUM(n_vecs) OVER () * 2) AS overloaded
         |FROM per ORDER BY cell""".stripMargin

  /** q162 — FILTERED vector search (label-constrained IVF top-k): each
    * query (vec_id ≤ 4) retrieves only neighbors sharing its `label` —
    * the tenant/category-scoped retrieval every production vector store
    * names a first-class feature, and the classic recall trap: a
    * POST-filter of an unfiltered top-k silently returns < k when the
    * filter is selective. This is the PRE-filter form — the label
    * predicate applies inside the probed cells BEFORE ranking, so the
    * full candidate pool competes for k slots — and `n_found` (the
    * filtered candidate count per query) makes the residual shortfall
    * visible: when even the probed cells hold < k matching vectors, a
    * server must widen nprobe, not fake the k.
    *
    * Scale shape: identical to q47 ([[annIvfTopK]]) — broadcast query
    * side, candidate work bounded by the probed cells' population, the
    * filter applied on the scan side of the join (fewer candidates than
    * the unfiltered query, never more). The two-phase salted top-k is
    * unnecessary here: the filter already cuts candidates, and `n_found`
    * needs the per-query total anyway. */
  def annIvfFilteredTopK(spark: SparkSession, dir: String, nprobe: Int = 4,
      k: Int = 5): DataFrame = {
    val centroids = ivfCentroids
    val a = ivfAssignments(spark, dir, centroids)
    val data = a.select(col("vec_id").as("n_id"), col("embedding").as("ne"),
      col("nrm").as("nn"), col("cell"), col("label").as("n_label"))
    val q = withNorm(spark, dir).where(col("vec_id") <= 4)
      .withColumn("dscores", cellScoresDecCol(centroids))
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("qe"), col("nrm").as("qn"),
        explode(expr(
          s"""slice(transform(array_sort(transform(dscores, (s, i) ->
             |  named_struct('negs', -s, 'idx', i))), x -> x.idx), 1, $nprobe)""".stripMargin))
          .as("probe_cell"))
    val cand = data
      .join(broadcast(q), col("cell") === col("probe_cell")
        && col("q_id") =!= col("n_id") && col("n_label") === col("q_label"))
      .select(col("q_id"), col("n_id"), col("n_label").cast("long").as("label"),
        col("cell").cast("long").as("cell"),
        (expr(dotDec("qe", "ne")) / (col("qn") * col("nn"))).as("cos_sim"))
    val global = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("n_id").asc)
    cand
      .withColumn("n_found", count(lit(1)).over(Window.partitionBy("q_id")))
      .withColumn("rank", row_number().over(global).cast("long")).where(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("label"), col("cell"),
        col("cos_sim"), col("rank"), col("n_found"))
      .orderBy("q_id", "rank")
  }

  /** DuckDB oracle for [[annIvfFilteredTopK]] — [[ivfOracleSql]]'s seed
    * chain with the label equality pushed into the candidate join and
    * the per-query filtered candidate count carried through. */
  def ivfFilteredOracleSql(nprobe: Int = 4, k: Int = 5): String =
    ivfModelPrefixSql(0) +
      s"""pk AS (SELECT q_id, cell AS pcell FROM (
         |  SELECT vec_id AS q_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS prn
         |  FROM fsc WHERE vec_id <= 4) z WHERE prn <= $nprobe),
         |qv AS (SELECT w.vec_id AS q_id, le.label AS q_label, w.embedding AS qe, w.nrm AS qn
         |       FROM w JOIN embeddings le ON le.vec_id = w.vec_id WHERE w.vec_id <= 4),
         |u AS (SELECT pk.q_id, w.vec_id AS n_id, ne.label, w.cell, qv.qn, w.nrm AS nn,
         |  unnest(qv.qe) AS x, unnest(w.embedding) AS y
         |  FROM pk JOIN qv ON qv.q_id = pk.q_id
         |  JOIN w ON w.cell = pk.pcell AND w.vec_id <> pk.q_id
         |  JOIN embeddings ne ON ne.vec_id = w.vec_id AND ne.label = qv.q_label),
         |s2 AS (SELECT q_id, n_id, CAST(any_value(label) AS BIGINT) AS label,
         |  CAST(any_value(cell) AS BIGINT) AS cell,
         |  CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)
         |    / (any_value(qn) * any_value(nn)) AS cos_sim
         |  FROM u GROUP BY q_id, n_id),
         |r AS (SELECT q_id, n_id, label, cell, cos_sim,
         |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC) AS rank,
         |  CAST(COUNT(*) OVER (PARTITION BY q_id) AS BIGINT) AS n_found FROM s2)
         |SELECT q_id, n_id, label, cell, cos_sim, rank, n_found FROM r WHERE rank <= $k
         |ORDER BY q_id, rank""".stripMargin

  /** DuckDB oracle for the IVF ANN family, generated so the SQL stays in
    * lockstep with the Scala pipeline: `iters = 0` replays [[annIvfTopK]]
    * on the fixed LCG seed centroids (q47); `iters > 0` first re-derives
    * the IDENTICAL k-means model in SQL — unrolled Lloyd iterations over
    * the same deterministic `(vec_id * 2654435761) % 2 = 0` sample, with
    * the same exact-decimal score/sum/norm arithmetic — then replays the
    * probe + rank pipeline on it (q60). Every cross-engine-sensitive step
    * (cell argmax, probe ordering, cosine) runs on decimal-exact doubles,
    * so the compare is a hash match, not a tolerance. */
  def ivfOracleSql(iters: Int, nprobe: Int = 4, k: Int = 5): String =
    ivfModelPrefixSql(iters) +
      s"""pk AS (SELECT q_id, cell AS pcell FROM (
         |  SELECT vec_id AS q_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS prn
         |  FROM fsc WHERE vec_id <= 4) z WHERE prn <= $nprobe),
         |qv AS (SELECT vec_id AS q_id, embedding AS qe, nrm AS qn FROM w WHERE vec_id <= 4),
         |u AS (SELECT pk.q_id, w.vec_id AS n_id, w.cell, qv.qn, w.nrm AS nn,
         |  unnest(qv.qe) AS x, unnest(w.embedding) AS y
         |  FROM pk JOIN qv ON qv.q_id = pk.q_id
         |  JOIN w ON w.cell = pk.pcell AND w.vec_id <> pk.q_id),
         |s2 AS (SELECT q_id, n_id, CAST(any_value(cell) AS BIGINT) AS cell,
         |  CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)
         |    / (any_value(qn) * any_value(nn)) AS cos_sim
         |  FROM u GROUP BY q_id, n_id),
         |r AS (SELECT q_id, n_id, cell, cos_sim,
         |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC) AS rank FROM s2)
         |SELECT q_id, n_id, cell, cos_sim, rank FROM r WHERE rank <= $k ORDER BY q_id, rank""".stripMargin

  /** Shared DuckDB WITH-chain prefix for the trained-IVF family (q47/q60
    * replay it for ANN, q73 for semantic dedup): seeds → unrolled Lloyd
    * iterations (when `iters > 0`) → full-corpus decimal-exact scores
    * (`fsc`), assignments (`fas`), norms (`nr`), ending at
    * `w(vec_id, embedding, cell, nrm)` with a trailing comma — callers
    * append their own tail CTEs + SELECT. */
  private def ivfModelPrefixSql(iters: Int, trainWhere: String = ""): String = {
    val sb = new StringBuilder
    sb ++= s"WITH seeds AS (SELECT $ivfCentroidsSqlLiteral AS c),\n"
    if (iters > 0)
      sb ++= s"tv AS (SELECT vec_id, embedding FROM embeddings WHERE (vec_id * $SampleMult) % $SampleMod = 0$trainWhere),\n"
    sb ++=
      s"""cents0 AS (SELECT CAST(jj.j AS INT) AS cell, CAST(ii.i AS INT) AS dim,
         |  (s.c)[CAST(jj.j + 1 AS INT)][CAST(ii.i AS INT)] AS u
         |  FROM seeds s CROSS JOIN (SELECT unnest(range(0, $NumCells)) AS j) jj
         |  CROSS JOIN (SELECT unnest(range(1, ${Dim + 1})) AS i) ii),
         |""".stripMargin
    for (t <- 1 to iters) {
      val prev = s"cents${t - 1}"
      sb ++=
        s"""sc$t AS (SELECT t.vec_id, c.cell,
           |  CAST(ROUND(SUM(CAST(CAST(t.embedding[c.dim] AS DOUBLE) * c.u AS DECIMAL(18,12))), 12) AS DOUBLE) AS s
           |  FROM tv t CROSS JOIN $prev c GROUP BY 1, 2),
           |as$t AS (SELECT vec_id, cell FROM (
           |  SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn FROM sc$t) z
           |  WHERE rn = 1),
           |raw$t AS (SELECT a.cell, CAST(dd.i AS INT) AS dim,
           |  CAST(ROUND(SUM(CAST(CAST(t.embedding[CAST(dd.i AS INT)] AS DOUBLE) AS DECIMAL(28,12))), 12) AS DOUBLE) AS rawv
           |  FROM as$t a JOIN tv t USING (vec_id)
           |  CROSS JOIN (SELECT unnest(range(1, ${Dim + 1})) AS i) dd GROUP BY 1, 2),
           |nrm$t AS (SELECT cell,
           |  sqrt(CAST(ROUND(SUM(CAST(rawv AS DECIMAL(19,12)) * CAST(rawv AS DECIMAL(19,12))), 12) AS DOUBLE)) AS nn
           |  FROM raw$t GROUP BY 1),
           |cents$t AS (SELECT c.cell, c.dim, COALESCE(r.rawv / NULLIF(n.nn, 0), c.u) AS u
           |  FROM $prev c LEFT JOIN raw$t r ON r.cell = c.cell AND r.dim = c.dim
           |  LEFT JOIN nrm$t n ON n.cell = c.cell),
           |""".stripMargin
    }
    sb ++=
      s"""fsc AS (SELECT e.vec_id, c.cell,
         |  CAST(ROUND(SUM(CAST(CAST(e.embedding[c.dim] AS DOUBLE) * c.u AS DECIMAL(18,12))), 12) AS DOUBLE) AS s
         |  FROM embeddings e CROSS JOIN cents$iters c GROUP BY 1, 2),
         |fas AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn FROM fsc) z
         |  WHERE rn = 1),
         |nr AS (SELECT vec_id, sqrt(CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)) AS nrm
         |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
         |w AS (SELECT e.vec_id, e.embedding, a.cell, nr.nrm
         |  FROM embeddings e JOIN fas a ON e.vec_id = a.vec_id JOIN nr ON e.vec_id = nr.vec_id),
         |""".stripMargin
    sb.toString
  }

  /** q73 SemDeDup-style SEMANTIC dedup: cluster the embeddings with the
    * trained IVF k-means model ([[trainIvfCentroids]] — "train once" on a
    * sample, persisted model table), then mark a vector a semantic
    * duplicate iff some LOWER-vec_id member of the SAME cluster has exact
    * cosine >= `tau` to it. Emits one row per vector: its cluster, how
    * many earlier in-cluster near-dups it has, and the keep flag a
    * pruning pipeline would act on (keep the first occurrence, drop the
    * rest — the same min-id keeper rule as exact dedup q27).
    *
    * In-cluster candidate generation reuses the q34b banded sign-LSH
    * blocking RESTRICTED to the cluster: a pair is a candidate only when
    * cluster AND some band key agree, so the pair space stays bucket-
    * local (capped at [[Dedup.MaxBucket]], overflow `observe`d) instead
    * of the O(sum n_c²) within-cluster nested loop the naive SemDeDup
    * scan would run. Scale shape: assignment + band keys are map-side
    * (codegen'd dots, no shuffle); ONE shuffle on (cell, band_idx,
    * band_key); candidates dedup + exact decimal re-score touch only
    * surviving pairs; the final left join carries (vec_id, cell) — never
    * embeddings. At 100 TB the cell count k grows with n (k ≈ n/2²⁰ for
    * ~1M-row cells) so both blocking keys tighten together; recall at
    * cos = c within a cluster is the q34b band bound 1−(1−p³)⁸.
    *
    * Oracle-gated end-to-end: the DuckDB oracle re-derives the identical
    * trained model ([[ivfModelPrefixSql]]), band keys (decimal-exact
    * sign bits), cap, and cosine — hash match, no tolerance. */
  def semanticDedup(spark: SparkSession, dir: String, tau: Double = 0.4): DataFrame = {
    // corpus-level label table (vec_id → cell, dup count, keep) — the
    // q61 precedent: one-shot labeling job persisted per corpus
    // fingerprint, downstream consumers (and the bench steady state)
    // read it; the oracle re-derives the full chain regardless.
    Artifacts.persisted(spark, dir, "semdedup_labels", (tau * 1000).toInt + 73, Emb)(
      semanticDedupCompute(spark, dir, tau)).orderBy("vec_id")
  }

  private def semanticDedupCompute(spark: SparkSession, dir: String, tau: Double): DataFrame = {
    Diagnostics.install(spark)
    val cents = trainIvfCentroids(spark, dir)
    val a = ivfAssignments(spark, dir, cents)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
    val banded = a.select(col("vec_id"), col("embedding"), col("nrm"), col("cell"),
      posexplode(array((0 until NdBands).map(ndBandKey): _*)).as(Seq("band_idx", "band_key")))
    val buckets = banded
      .groupBy(col("cell"), col("band_idx"), col("band_key"))
      .agg(array_sort(collect_list(struct(col("vec_id"), col("embedding"), col("nrm")))).as("all_members"))
      .where(size(col("all_members")) >= 2)
      .withColumn("members", slice(col("all_members"), 1, Dedup.MaxBucket))
      .observe("q73_semdedup_buckets",
        sum(greatest(size(col("all_members")) - Dedup.MaxBucket, lit(0))).as("overflow_members_dropped"),
        count(lit(1)).as("n_buckets"))
    val pairs = buckets
      .select(explode(expr(
        """flatten(transform(members, (x, i) ->
          |  transform(slice(members, i + 2, size(members)), y ->
          |    named_struct('v1', x.vec_id, 'e1', x.embedding, 'n1', x.nrm,
          |                 'v2', y.vec_id, 'e2', y.embedding, 'n2', y.nrm))))""".stripMargin)).as("p"))
      .select(col("p.v1").as("v1"), col("p.e1").as("e1"), col("p.n1").as("n1"),
        col("p.v2").as("v2"), col("p.e2").as("e2"), col("p.n2").as("n2"))
      // cheap codegen'd prefilter BEFORE the distinct (q34b's trick): only
      // plausible pairs pay the dedup shuffle and the exact decimal re-score
      .where(fdot(col("e1"), col("e2")) / (col("n1") * col("n2")) >= tau - 1e-6)
      .distinct()
      .select(col("v1"), col("v2"),
        (expr(dotDec("e1", "e2")) / (col("n1") * col("n2"))).as("cs"))
      .where(col("cs") >= tau)
    val drops = pairs.groupBy(col("v2").as("vec_id"))
      .agg(count(lit(1)).as("n_dups_earlier"))
    a.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(drops, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_dups_earlier"), lit(0L)).as("n_dups_earlier"),
        col("n_dups_earlier").isNull.as("keep"))
      .orderBy("vec_id")
  }

  /** DuckDB oracle for [[semanticDedup]]: trained-model prefix
    * ([[ivfModelPrefixSql]]) + band keys + capped cluster∧band candidate
    * blocking + exact decimal cosine + the per-vector drop count. */
  def semanticDedupOracleSql(iters: Int = 3, tau: String = "0.4"): String =
    ivfModelPrefixSql(iters) +
      s"""pl AS (SELECT $ndPlanesSqlLiteral AS p),
         |bits AS (SELECT wv.vec_id, wv.cell, bb.b AS band_idx,
         |  CAST(list_sum(list_transform(range(0, $NdPlanesPerBand), j ->
         |    CASE WHEN CAST(ROUND(list_sum(list_transform(range(1, ${Dim + 1}), i ->
         |           CAST(CAST(wv.embedding[CAST(i AS INT)] AS DOUBLE)
         |                * (pl.p)[CAST(bb.b*$NdPlanesPerBand + j + 1 AS INT)][CAST(i AS INT)] AS DECIMAL(18,12)))), 12) AS DOUBLE) >= 0
         |         THEN (1 << CAST(j AS INT)) ELSE 0 END)) AS BIGINT) AS band_key
         |  FROM w wv CROSS JOIN pl CROSS JOIN (SELECT unnest(range(0, $NdBands)) AS b) bb),
         |mem AS (SELECT vec_id, cell, band_idx, band_key,
         |          ROW_NUMBER() OVER (PARTITION BY cell, band_idx, band_key ORDER BY vec_id) AS rn,
         |          COUNT(*) OVER (PARTITION BY cell, band_idx, band_key) AS nb
         |        FROM bits),
         |kept AS (SELECT * FROM mem WHERE nb >= 2 AND rn <= ${Dedup.MaxBucket}),
         |cand AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
         |         FROM kept a JOIN kept b
         |           ON a.cell = b.cell AND a.band_idx = b.band_idx AND a.band_key = b.band_key
         |          AND a.vec_id < b.vec_id),
         |u2 AS (SELECT c.v1, c.v2, a.nrm AS n1, b.nrm AS n2,
         |         unnest(a.embedding) AS x, unnest(b.embedding) AS y
         |       FROM cand c JOIN w a ON a.vec_id = c.v1 JOIN w b ON b.vec_id = c.v2),
         |ps AS (SELECT v1, v2,
         |         CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)
         |           / (any_value(n1) * any_value(n2)) AS cs
         |       FROM u2 GROUP BY v1, v2),
         |dr AS (SELECT v2 AS vec_id, COUNT(*) AS n_dups_earlier FROM ps WHERE cs >= $tau GROUP BY 1)
         |SELECT wv.vec_id, CAST(wv.cell AS BIGINT) AS cell,
         |       COALESCE(dr.n_dups_earlier, 0) AS n_dups_earlier,
         |       dr.vec_id IS NULL AS keep
         |FROM w wv LEFT JOIN dr ON dr.vec_id = wv.vec_id
         |ORDER BY wv.vec_id""".stripMargin

  /** q81 — scalar-quantized (int8) ANN, FAISS-SQ8 style: L2-normalize
    * each vector, then symmetric signed int8 codes `round(127·x/‖x‖)` —
    * the integer code dot is then ≈ 127²·cosine, so ranking on it is a
    * faithful cosine proxy (a min/max PER-DIMENSION affine quantizer is
    * NOT: its additive shifts dominate the code dot — found by the recall
    * spec, kept here as a warning). This is the embedding-compression
    * path a 100 TB vector corpus takes: 64 B codes vs 256 B floats = 4×
    * smaller scan/shuffle, SIMD-friendly integer dot in the hot loop.
    * Top-k per query by quantized dot, with the EXACT decimal cosine
    * re-scored on the ≤ k survivors as the quality audit column.
    *
    * Everything is hash-portable: ‖x‖ is the exact-decimal norm (the
    * dotDec routing all cosine queries share), the quantizer is one IEEE
    * double expression mirrored verbatim in the oracle, codes are INTs
    * and the ranking dot a BIGINT sum (no float ties anywhere); only the
    * audit column touches decimals.
    *
    * Scale shape: quantization is map-side (no corpus stats pass at all
    * — the scale is per-row); the scored join broadcasts the 5-query
    * side; ranking windows per query; exact re-score only on survivors.
    * In a real deployment the codes are WRITTEN as the search table (the
    * 4× I/O win); here both live in one plan to stay self-contained. */
  def quantizedAnnTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val qz = withNorm(spark, dir)
      // r19 optimization round: was the interpreted HOF quantizer
      //   transform(embedding, x ->
      //     CASE WHEN nrm = 0.0D THEN 0
      //          ELSE CAST(floor((CAST(x AS DOUBLE) / nrm) * 127.0D + 0.5D) AS INT) END)
      // — the last per-corpus-row interpreted lambda on this path after
      // r18 kernelized the ranking dot. [[graft.functions.Int8Quantize]]
      // is the same arithmetic bit-identically as a codegen'd loop
      // (ExtensionsSpec pins kernel ≡ HOF + edge shapes); the q81 oracle
      // still re-derives the HOF form, so the hash gate covers the swap.
      .withColumn("qv", expr("graft_quantize_i8(embedding, nrm)"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("qv"))
    val q = qz.where(col("vec_id") <= 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("qv").as("qqv"))
    val scored = qz.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("qe"), col("qn"),
        col("embedding").as("ne"), col("nrm").as("nn"),
        // r18: was the interpreted HOF fold
        //   aggregate(zip_with(qqv, qv, (a, b) -> CAST(a AS BIGINT) * CAST(b AS BIGINT)),
        //             CAST(0 AS BIGINT), (acc, v) -> acc + v)
        // — [[graft.functions.LongVecDot]] is the identical integer math
        // as a codegen'd loop (ExtensionsSpec pins kernel ≡ HOF)
        expr("graft_dot_long(qqv, qv)").as("approx_dot"))
    val byDot = Window.partitionBy("q_id").orderBy(col("approx_dot").desc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(byDot).cast("long"))
      .where(col("rank") <= k)
      // exact decimal re-score on the <= 5k surviving rows only
      .select(col("q_id"), col("n_id"), col("approx_dot"), col("rank"),
        (expr(dotDec("qe", "ne")) / (col("qn") * col("nn"))).as("cos_exact"))
      .orderBy("q_id", "rank")
  }

  /** RRF rank-smoothing constant (the standard k = 60 from Cormack et
    * al.'s reciprocal-rank-fusion formulation) and per-list fusion depth
    * for [[hybridRrfTopDocs]]. */
  val RrfK = 60
  val RrfDepth = 20

  /** q77 — HYBRID retrieval via reciprocal-rank fusion: fuse the BM25
    * lexical ranking (q75, top-[[RrfDepth]]) with a dense cosine ranking
    * (query = embedding 0 against all others, top-[[RrfDepth]]) into one
    * ranked list — the standard two-tower retrieval pattern (sparse +
    * dense, RRF-fused) used to mine supervised/training examples from a
    * corpus. `rrf = Σ_lists floor(10⁶ / (k + rank))` in BIGINT, so the
    * fused ordering is integer-exact cross-engine; a document appearing
    * in only one list simply contributes one term (COALESCE 0).
    *
    * The doc_id = vec_id identification between `documents` and
    * `embeddings` is the fixture's correspondence (each document's
    * embedding row shares its id).
    *
    * Scale shape: each arm ends in a local-top-k (TakeOrderedAndProject
    * — per-partition heaps + driver merge of [[RrfDepth]] rows, no
    * global sort); the fusion then full-outer-joins two ≤ RrfDepth-row
    * lists — driver-scale regardless of corpus size. The dense arm is
    * the brute scan here; swapping in the q60 IVF arm changes candidate
    * generation only, not the fusion algebra. Rank windows run on the
    * k surviving rows only (q75's pattern). */
  def hybridRrfTopDocs(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val n = withNorm(spark, dir)
    val q = n.where(col("vec_id") === 0)
      .select(col("embedding").as("qe"), col("nrm").as("qn"))
    val denseScored = n.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(q)) // 1-row query broadcast
      .select(col("vec_id").as("id"),
        (expr(dotDec("embedding", "qe")) / (col("nrm") * col("qn"))).as("cs"))
    val dense = denseScored
      .orderBy(col("cs").desc, col("id").asc).limit(RrfDepth)
      .withColumn("dense_rank",
        row_number().over(Window.orderBy(col("cs").desc, col("id").asc)).cast("long"))
      .select(col("id"), col("dense_rank"))
    val lex = TextAnalysis.bm25TopDocs(spark, dir, RrfDepth)
      .select(col("doc_id").as("id"), col("rank").as("lex_rank"))
    lex.join(dense, Seq("id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(expr(s"1000000L div ($RrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000L div ($RrfK + dense_rank)"), lit(0L)))
      .orderBy(col("rrf_score").desc, col("id").asc).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("rrf_score").desc, col("id").asc)).cast("long"))
      .select(col("rank"), col("id"), col("rrf_score"), col("lex_rank"), col("dense_rank"))
      .orderBy("rank")
  }

  /** Array-function surface over the embedding vectors: size, extrema,
    * positive-component count, first components — pure per-row list ops
    * (no shuffle except the final ORDER BY). */
  def embeddingArrayStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        expr("CAST(array_min(embedding) AS DOUBLE)").as("min_c"),
        expr("CAST(array_max(embedding) AS DOUBLE)").as("max_c"),
        expr("size(filter(embedding, x -> x > 0))").cast("long").as("n_positive"),
        expr("CAST(element_at(embedding, 1) AS DOUBLE)").as("c1"),
        expr("CAST(element_at(embedding, 64) AS DOUBLE)").as("c64"))
      .orderBy("vec_id")

  /** q124 — embedding DIMENSION health audit: per dim (1..64) across
    * the whole store, the fixed-point value range and the exact-zero
    * mass. A dim whose min equals its max is DEAD (a collapsed
    * projection — every vector agrees, the dim carries zero
    * information, and it silently wastes index width in every ANN
    * structure built on the store); heavy exact-zero mass flags
    * truncated or sparsified exports. q45 audits per-VECTOR shape; this
    * is the per-DIM corpus view an embedding-store owner checks before
    * building indexes. Fixed-point `floor(v·10¹²)` bounds (the q112
    * encoding — IEEE-identical cross-engine) keep the report exact.
    *
    * Scale shape: one posexplode scan → ONE dim-keyed aggregate whose
    * state is 64 groups of (min, max, count) regardless of corpus size
    * — map-side partials make the shuffle 64 rows per task. */
  def embeddingDimHealth(spark: SparkSession, dir: String): DataFrame =
    embeddingDimHealthOf(Tables.embeddings(spark, dir))

  /** [[embeddingDimHealth]] over an arbitrary (embedding) frame — the
    * spec injects a dead dim and an all-zero dim. */
  private[graft] def embeddingDimHealthOf(raw: DataFrame): DataFrame =
    raw
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select((col("pos") + 1).cast("long").as("dim"),
        floor(col("v").cast("double") * lit(1e12)).cast("long").as("vf"),
        col("v"))
      .groupBy("dim")
      .agg(min("vf").as("vmin_fp"), max("vf").as("vmax_fp"),
        sum(when(col("v") === 0.0f, 1L).otherwise(0L)).as("n_zero"))
      .select(col("dim"), col("vmin_fp"), col("vmax_fp"),
        (col("vmax_fp") - col("vmin_fp")).as("spread_fp"),
        col("n_zero"),
        (col("vmin_fp") === col("vmax_fp")).as("dead"))
      .orderBy("dim")

  /** Random-hyperplane LSH parameters: 8 fixed pseudo-hyperplanes from an
    * LCG (deterministic, no runtime randomness) → 256 buckets. */
  private val NumPlanes = 8
  private val planes: Array[Array[Double]] = {
    var x = 0x5DEECE66DL
    Array.fill(NumPlanes, 64) {
      x = x * 6364136223846793005L + 1442695040888963407L
      (x >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
  }
  /** The ANN hyperplanes as a DuckDB nested-list literal, for the oracle. */
  def annPlanesSqlLiteral: String =
    planes.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")

  /** Sign-LSH bucket id per vector (0..255): bit j = hybrid sign of the
    * dot product with fixed hyperplane j ([[hybridSign]] — codegen'd
    * double in the common case, exact-decimal at the boundary, so the
    * bucket ids are bit-identical to the DuckDB oracle's). */
  private def bucketCol: Column =
    planes.zipWithIndex.map { case (plane, j) =>
      when(hybridSign(plane), lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** ANN via sign-LSH bucketing: query vectors only compare against their
    * own bucket (~1/256 of candidates). Emits in-bucket top-3 with the
    * exact cosine. Oracle-gated end-to-end (hybrid bucket bits + exact
    * decimal cosine); ScalaTest additionally asserts bucket-local results
    * agree with the brute-force ranking restricted to the bucket. */
  def annLshTop3(spark: SparkSession, dir: String): DataFrame = {
    val n = withNorm(spark, dir).withColumn("bucket", bucketCol.cast("long"))
    val q = n.where(col("vec_id") <= 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("bucket").as("qb"))
    val c = n.select(col("vec_id").as("n_id"), col("embedding").as("ne"),
      col("nrm").as("nn"), col("bucket"))
    val scored = c.join(broadcast(q), col("bucket") === col("qb") && col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), col("bucket"),
        (expr(dotDec("qe", "ne")) / (col("qn") * col("nn"))).as("cos_sim"))
    val byCos = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(byCos).cast("long"))
      .where(col("rank") <= 3)
      .select(col("q_id"), col("n_id"), col("bucket"), col("cos_sim"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** Output dimensionality for [[randomProjection]]. */
  val ProjDims = 16

  // Sign of projection-matrix entry (i, j) = parity of a multiplicative
  // hash of the flattened index (deterministic, engine-independent,
  // never materialized): ((i*ProjDims + j) * 2654435761) % 1000000007
  // % 2 == 0. Lives in [[graft.functions.RandomSignProject]] (the q86
  // kernel) and, positionally 1-based, in [[randomProjectionOracleSql]].

  /** q86 — random sign projection (Achlioptas 2001): 64-dim float
    * embeddings down to [[ProjDims]] dims via a ±1 projection matrix whose
    * entries are a pure hash of (row, col) — the Johnson–Lindenstrauss
    * dimensionality reduction every large-scale vector pipeline runs
    * before LSH/clustering to cut index width (here 4×). A hashed matrix
    * means NO materialized model, no broadcast, no training pass: any
    * executor (or engine — the oracle re-derives it) regenerates any
    * entry on demand.
    *
    * Projected dot products concentrate around scaled originals (JL
    * lemma; the spec pins the output against an exact-decimal driver
    * recompute), so downstream q34b/q35-style bucketing works on the
    * narrow vectors.
    *
    * Scale shape: posexplode → 16 conditional exact-DECIMAL(18,12) sums
    * in ONE codegen'd hash aggregate keyed on vec_id. The first cut ran
    * 16 interpreted HOF folds per row (zero shuffle but 1024 boxed
    * lambda evals/vector — 2.8 s at sf0.1); this formulation pays one
    * map-side-combined shuffle of 16-decimal buffers instead and runs
    * 4× faster. The whole-corpus agg is embarrassingly parallel; at
    * 100 TB the buffers are 16 decimals/vector regardless of input
    * width. */
  def randomProjection(spark: SparkSession, dir: String): DataFrame = {
    // r18 optimization round (guide §2.4 + §4): was posexplode →
    // groupBy(vec_id) → 16 conditional DECIMAL(18,12) sums — one
    // hash-agg shuffle of 16 non-compact decimal buffers per vector and
    // ProjDims× redundant per-element decimal conversions (every
    // exploded row fed every sum; the r6 probe flagged the decimal-
    // buffer hash-agg pressure as superlinear, 4.9× at 8.35× data). Now
    // ONE codegen'd map-side kernel per vector ([[graft.functions.
    // RandomSignProject]]): 64 decimal conversions instead of 1024, long
    // accumulation (exact — same unscaled integers), ZERO exchanges
    // before the presentation sort. Bit-identical by construction;
    // PipelineOpsSpec's exact-decimal recompute and the q86 oracle are
    // unchanged. The size(...) > 0 guard preserves the old form's
    // "no output row for empty/NULL embeddings" (posexplode emitted no
    // rows for those); the two-level select is a CollapseProject
    // boundary — the kernel is non-cheap and referenced ProjDims times,
    // so it stays evaluated once.
    val pr = org.apache.spark.sql.graft.ColumnBridge.of(
      graft.functions.RandomSignProject(
        org.apache.spark.sql.graft.ColumnBridge.expr(col("embedding")), ProjDims))
    Tables.embeddings(spark, dir)
      .where(size(col("embedding")) > 0)
      .select(col("vec_id"), pr.as("pr"))
      .select(col("vec_id") +: (0 until ProjDims).map(j =>
        element_at(col("pr"), j + 1).as(f"p$j%02d")): _*)
      .orderBy("vec_id")
  }

  /** DuckDB oracle for [[randomProjection]] — re-derives the hashed sign
    * matrix positionally (1-based list indexing i ↦ i-1). */
  def randomProjectionOracleSql(): String = {
    val comps = (0 until ProjDims).map { j =>
      s"""  CAST(ROUND(SUM(CASE WHEN (((i - 1) * $ProjDims + $j) * 2654435761) % 1000000007 % 2 = 0
         |    THEN CAST(CAST(x AS DOUBLE) AS DECIMAL(18,12))
         |    ELSE CAST(-CAST(x AS DOUBLE) AS DECIMAL(18,12)) END), 12) AS DOUBLE) AS p${"%02d".format(j)}""".stripMargin
    }.mkString(",\n")
    s"""WITH u AS (
       |  SELECT vec_id, CAST(unnest(range(1, len(embedding) + 1)) AS BIGINT) AS i, embedding
       |  FROM embeddings),
       |v AS (SELECT vec_id, i, embedding[CAST(i AS INT)] AS x FROM u)
       |SELECT vec_id,
       |$comps
       |FROM v GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  /** q87 — incremental IVF index maintenance: the operational companion
    * to q60's "train once, search many". The model is trained on the
    * CORPUS only (vec_id % 10 ≠ 8; the documents family's incremental
    * convention is %10=9, but the parity-hash training sample holds only
    * EVEN vec_ids, so an odd-residue batch would make the holdout
    * vacuous — 8 keeps the batch inside the trainable population) and frozen; the new batch is then assigned into the
    * frozen cells, and the query reports per-cell occupancy before/after
    * plus a DRIFT flag — cells whose batch share is more than twice the
    * overall batch share are where the incoming distribution is moving,
    * the signal an index operator alarms/retrains on.
    *
    * Scale shape: the model is k×64 doubles (persisted to the q60 model
    * table, distinct corpus-only fingerprint); cell assignment is
    * map-side codegen'd dots — the batch NEVER joins the corpus
    * vectors; the only shuffle is a 16-cell groupBy of (corpus_flag,
    * cell) counts, and drift normalizers run as windows over the
    * 16-row cell table. Integer permille shares keep the gate exact. */
  def incrementalIvfMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val cents = trainIvfCentroids(spark, dir, corpusOnly = true)
    val isBatch = pmod(col("vec_id"), lit(10L)) === BatchResidue
    val whole = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ivfAssignments(spark, dir, cents)
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(
        sum(when(isBatch, 0L).otherwise(1L)).as("n_corpus"),
        sum(when(isBatch, 1L).otherwise(0L)).as("n_batch"))
      .withColumn("total_after", col("n_corpus") + col("n_batch"))
      .withColumn("batch_permille", expr("(1000L * n_batch) div total_after"))
      .withColumn("gb", sum(col("n_batch")).over(whole))
      .withColumn("gt", sum(col("total_after")).over(whole))
      .withColumn("overall_permille", expr("(1000L * gb) div gt"))
      .withColumn("drift", col("batch_permille") > lit(2) * col("overall_permille"))
      .select("cell", "n_corpus", "n_batch", "total_after", "batch_permille",
        "overall_permille", "drift")
      .orderBy("cell")
  }

  /** DuckDB oracle for [[incrementalIvfMaintenance]] — re-derives the
    * corpus-only model via [[ivfModelPrefixSql]] with the batch held out
    * of the training sample, then replays the count/share algebra. */
  def incrementalIvfOracleSql(iters: Int = 3): String =
    ivfModelPrefixSql(iters, trainWhere = s" AND vec_id % 10 <> $BatchResidue") +
      s"""agg AS (SELECT CAST(cell AS BIGINT) AS cell,
         |  CAST(SUM(CASE WHEN vec_id % 10 = $BatchResidue THEN 0 ELSE 1 END) AS BIGINT) AS n_corpus,
         |  CAST(SUM(CASE WHEN vec_id % 10 = $BatchResidue THEN 1 ELSE 0 END) AS BIGINT) AS n_batch
         |  FROM w GROUP BY 1),
         |t AS (SELECT cell, n_corpus, n_batch, n_corpus + n_batch AS total_after FROM agg),
         |g AS (SELECT CAST((1000 * SUM(n_batch)) // SUM(total_after) AS BIGINT) AS overall_permille FROM t)
         |SELECT t.cell, t.n_corpus, t.n_batch, t.total_after,
         |  (1000 * t.n_batch) // t.total_after AS batch_permille,
         |  g.overall_permille,
         |  (1000 * t.n_batch) // t.total_after > 2 * g.overall_permille AS drift
         |FROM t CROSS JOIN g ORDER BY t.cell""".stripMargin

  /** q112 — embedding-space DRIFT per label between a crawl increment
    * (`vec_id % 10 = 9`) and the corpus history: the dense-side twin of
    * q111's token drift, and the statistical upgrade of q87's IVF
    * occupancy flags. Per (label, dim) the report compares count-scaled
    * mean positions via the same EXACT cross-multiplication as q111 —
    * `|sum_b·n_hist − sum_h·n_batch|` — summed over all 64 dims into an
    * L1 drift plus the single most-shifted dim (smallest-dim
    * tie-break). Components enter as FIXED-POINT integers
    * `floor(v·10¹²)` over the float-widened double: every step of that
    * encoding (float→double widen, exact-representable 10¹² multiply,
    * floor) is IEEE-identical cross-engine, where a decimal CAST would
    * round ties (floats whose binary expansion terminates exactly one
    * digit past the scale) by engine-specific rules. Drift values are
    * in 10⁻¹² units; all arithmetic after the encoding is
    * integer/decimal-exact.
    *
    * Scale shape: ONE posexplode scan → ONE (label, dim)-keyed shuffle
    * whose state is bounded by labels × 64 dims regardless of corpus
    * size (map-side partial decimal sums); per-label vector counts ride
    * the same aggregate (each vector is one row per dim — a separate
    * counts pass would re-scan the table); the final per-label fold
    * runs on a labels-sized frame. An embedding drop whose label
    * centroids moved shows up here
    * before any ANN index degrades (q87 tells you WHERE in the index;
    * this tells you WHAT moved in the space). */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame =
    embeddingDriftOf(Tables.embeddings(spark, dir))

  /** [[embeddingDrift]] over an arbitrary (vec_id, label, embedding)
    * frame — the spec drives damaged fixtures (NULL / empty vectors
    * mixed into normal labels) through it. The oracle derives dim
    * cells from the actual arrays (index-lambda unnest), matching this
    * side's posexplode positions, so ragged vectors report identical
    * dim sets on both engines and a label consisting ONLY of
    * null/empty embeddings is absent from BOTH reports (it has no dim
    * cells anywhere); null/empty members of a live label still count
    * toward its n_batch/n_hist on both sides. */
  private[graft] def embeddingDriftOf(raw: DataFrame): DataFrame = {
    val emb = raw
      .withColumn("is_batch", pmod(col("vec_id"), lit(10)) === 9)
    // fixed-point components sum in a DECIMAL accumulator, not LongType:
    // a long sum wraps at ~9.2e18 ≈ 9.2M unit-scale vectors per label —
    // inside the design point — while decimal(20,0) inputs give a
    // decimal(30,0) sum, good to 10^17 vectors; counts ≤ 10^7 per label
    // keep the cross-product inside DECIMAL(38) — enforced at runtime
    // by [[capLabelCounts]], not just documented
    val vfix = floor(col("v").cast("double") * lit(1e12)).cast("decimal(20,0)")
    val zero = lit(0).cast("decimal(20,0)")
    // per-label vector counts ride the SAME exploded scan — a separate
    // counts pass would re-scan the whole embeddings table just to count
    // rows, and at 100 TB the second scan is IO the monitor doesn't
    // need. posexplode_OUTER + counting each vector exactly once (its
    // pos=0 cell, or the null placeholder cell of a NULL/empty array)
    // keeps the counts equal to RAW ROW counts — the oracle's definition
    // — even for null, empty, or ragged embeddings; the label totals
    // then ride a window over the labels × ≤65 bounded cell frame, so
    // ragged vectors still compare against label totals on every dim,
    // exactly as the oracle does.
    import org.apache.spark.sql.expressions.Window
    val firstCell = col("pos").isNull || col("pos") === 0
    val cells = emb
      .select(col("label"), col("is_batch"), posexplode_outer(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
      .agg(
        sum(when(col("is_batch"), vfix).otherwise(zero)).as("sum_b"),
        sum(when(!col("is_batch"), vfix).otherwise(zero)).as("sum_h"),
        sum(when(firstCell && col("is_batch"), 1L).otherwise(0L)).as("nb0"),
        sum(when(firstCell && !col("is_batch"), 1L).otherwise(0L)).as("nh0"))
    val byLabel = Window.partitionBy("label")
    val dims = capLabelCounts(cells
      .withColumn("n_batch", sum("nb0").over(byLabel))
      .withColumn("n_hist", sum("nh0").over(byLabel)))
      .where(col("dim").isNotNull) // drop the null-array placeholder cell
    dims
      .withColumn("drift_dim",
        abs(col("sum_b") * col("n_hist").cast("decimal(7,0)")
          - col("sum_h") * col("n_batch").cast("decimal(7,0)")))
      .groupBy("label")
      .agg(
        max("n_batch").as("n_batch"), max("n_hist").as("n_hist"),
        sum("drift_dim").cast("decimal(38,0)").as("l1_drift"),
        max(struct(col("drift_dim").as("d"), (lit(0L) - col("dim")).as("negdim"))).as("t"))
      // the two drift statistics leave as canonical digit strings: exact
      // at any scale, and the one encoding the driver hash gate proved
      // stable for (DECIMAL(38,0) cells hash engine-unstably — r10)
      .select(col("label").cast("long").as("label"),
        col("n_batch"), col("n_hist"),
        col("l1_drift").cast("string").as("l1_drift"),
        (lit(0L) - col("t.negdim")).as("top_dim"),
        col("t.d").cast("decimal(38,0)").cast("string").as("top_dim_drift"))
      .orderBy("label")
  }

  // ------------------------------------------------------------------
  // q150 — PRODUCT QUANTIZATION + ADC: the compression rung of the ANN
  // ladder (brute q33 → sign-LSH q35 → IVF q47/q60 → SQ8 q81 → PQ).
  // A 64-float vector (256 B) compresses to PqSubs 4-bit codes (4 B,
  // 64× — Jégou et al., "Product Quantization for Nearest Neighbor
  // Search", TPAMI 2011): the space splits into PqSubs 8-dim subspaces,
  // each with its own PqCodes-codeword k-means codebook trained on the
  // deterministic sample split; a vector's code is its per-subspace
  // nearest codeword; queries score candidates ASYMMETRICALLY (ADC) —
  // the full-precision query builds one 128-entry distance LUT per
  // subspace×codeword, and each candidate costs 8 table adds. At 100 TB
  // this is the RAM-resident scan path (codes 64× smaller than floats),
  // and it composes with IVF (scan only the probed cells' codes).
  // ------------------------------------------------------------------

  /** PQ geometry: [[Dim]] = [[PqSubs]] × [[PqSubDim]] dims; [[PqCodes]]
    * codewords per subspace (4-bit codes). */
  val PqSubs = 8
  val PqSubDim = 8
  val PqCodes = 16
  val PqIters = 2

  /** Deterministic LCG seed codebooks (the [[ivfCentroids]] pattern;
    * un-normalized — PQ k-means is plain L2 Lloyd, not spherical). */
  private val pqSeeds: Array[Array[Array[Double]]] = {
    var x = 0x00C0FFEEL
    Array.fill(PqSubs, PqCodes, PqSubDim) {
      x = x * 6364136223846793005L + 1442695040888963407L
      (x >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
  }

  /** The PQ seed codebooks as a DuckDB nested-list literal. */
  def pqSeedsSqlLiteral: String =
    pqSeeds.map(_.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")

  /** Squared L2 distance between a subvector and a codeword: each term
    * is the IEEE-deterministic double product (x−u)² cast to
    * DECIMAL(18,12) (the cross-engine-stable cast every cosine oracle
    * already relies on), summed EXACTLY in decimals (order-free), rounded
    * once, cast double — so aggregation order can never flip an argmin.
    * The oracle and the test-source SQL reference compute the same. */
  private def pqDistDriver(x: Array[Double], u: Array[Double]): Double = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    var acc = JBD.ZERO
    var i = 0
    while (i < PqSubDim) {
      val d = (x(i) - u(i)) * (x(i) - u(i))
      acc = acc.add(new JBD(d).setScale(12, RoundingMode.HALF_UP))
      i += 1
    }
    acc.doubleValue()
  }

  /** All [[PqSubs]] code assignments in ONE codegen'd kernel call:
    * argmin over the [[pqDistDriver]] decimal-exact distances, FIRST index
    * on ties (the oracle's `ORDER BY dist ASC, code ASC`); bit-identical
    * to the unrolled SQL form in test sources (see
    * [[graft.functions.PqAssignCodes]]), as a single
    * plan node instead of the unrolled ~10⁴-node projection (guide §4 +
    * §5: the cost was driver-side planning, not data). */
  private[graft] def pqAssignCol(cbs: Array[Array[Array[Double]]]): Column =
    ColumnBridge.of(graft.functions.PqAssignCodes(
      ColumnBridge.expr(col("embedding")), cbs))

  private[graft] final val PqModels = "pq_codebooks"

  /** Train the [[PqSubs]] per-subspace codebooks: plain Lloyd k-means on
    * the deterministic [[SampleMult]] hash sample, one distributed pass
    * per iteration — map-side assignment (codegen'd decimal-exact
    * distances), ONE shuffle of per-(subspace, code) decimal component
    * sums + counts, and a PqSubs×PqCodes×PqSubDim driver update (mean =
    * rounded-decimal sum ÷ count, an IEEE double division both engines
    * share). Empty codes keep their previous codeword. Bit-deterministic
    * across partitionings, runs, AND engines — the q150 oracle re-derives
    * the identical model with unrolled Lloyd SQL. Remembered under
    * [[PqModels]], (iters, corpusOnly) and the embeddings file set, and
    * persisted as a (sub, code, centroid) parquet table, the
    * [[trainIvfCentroids]] contract. */
  def trainPqCodebooks(spark: SparkSession, dir: String, iters: Int = PqIters,
      corpusOnly: Boolean = false): Array[Array[Array[Double]]] =
    Tables.remember(spark, PqModels, Seq(iters, corpusOnly), Seq(Tables.path(dir, "embeddings"))) {
      val path = Artifacts.path(spark, dir, modelName("pq_model", corpusOnly), 1500 + iters, Emb)
      if (Artifacts.isBuilt(spark, path)) {
        val cbs = Array.ofDim[Array[Double]](PqSubs, PqCodes)
        Tables.parquet(spark, path).collect().foreach { r =>
          cbs(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
        }
        require(cbs.forall(_.forall(_ != null)), s"PQ model table $path is torn")
        cbs
      } else {
        val sample = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding"))
          .where(pmod(col("vec_id") * SampleMult, lit(SampleMod.toLong)) === 0)
          // corpusOnly: hold out the incremental batch so the model is a
          // pure function of the pre-batch corpus (the q87 IVF rule —
          // BatchResidue is even, so the holdout intersects the
          // parity-hash training sample and is never vacuous)
          .where(if (corpusOnly) pmod(col("vec_id"), lit(10L)) =!= BatchResidue else lit(true))
        var cbs = pqSeeds.map(_.map(_.clone()))
        for (_ <- 1 to iters) {
          // r19: one kernel call per row assigns all 8 codes (pqc), in
          // place of the unrolled per-subspace argmin columns — same
          // assignment bit for bit, ~10⁴ fewer plan nodes per iteration
          val subStructs = array((0 until PqSubs).map { s =>
            struct(lit(s).as("sub"), element_at(col("pqc"), s + 1).as("code"),
              expr(s"slice(transform(embedding, v -> CAST(v AS DOUBLE)), ${s * PqSubDim + 1}, $PqSubDim)")
                .as("sv"))
          }: _*)
          val sumAggs = (1 to PqSubDim).map(i =>
            round(sum(expr(s"element_at(sv, $i)").cast("decimal(28,12)")), 12)
              .cast("double").as(s"c$i")) :+ count(lit(1)).as("n")
          val rows = sample.withColumn("pqc", pqAssignCol(cbs))
            .select(explode(subStructs).as("z"))
            .select(col("z.sub").as("sub"), col("z.code").as("code"), col("z.sv").as("sv"))
            .groupBy("sub", "code").agg(sumAggs.head, sumAggs.tail: _*)
            .collect()
          val next = cbs.map(_.map(_.clone()))
          rows.foreach { r =>
            val n = r.getLong(2 + PqSubDim)
            if (n > 0)
              next(r.getInt(0))(r.getInt(1)) =
                Array.tabulate(PqSubDim)(i => r.getDouble(i + 2) / n)
          }
          cbs = next
        }
        val out = for { s <- 0 until PqSubs; j <- 0 until PqCodes }
          yield (s, j, cbs(s)(j).toSeq)
        spark.createDataFrame(out).toDF("sub", "code", "centroid")
          .coalesce(1).write.mode("overwrite").parquet(path)
        cbs
      }
    }

  /** The persisted PQ code table (vec_id, codes[PqSubs]) — encode-once
    * per corpus fingerprint; the 64×-compressed representation the ADC
    * scan reads. An [[Artifacts.persisted]] table. */
  private[graft] def pqCodesTable(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "pq_codes", 150, Emb) {
      val cbs = trainPqCodebooks(spark, dir)
      Tables.embeddings(spark, dir).select(col("vec_id"), pqAssignCol(cbs).as("codes"))
    }

  /** q150 — PQ/ADC top-k: each query (the q33 query set, vec_id ≤ 4)
    * builds its 128-entry LUT on the driver (a bounded model-sized
    * fetch, the [[trainIvfCentroids]] footprint), broadcast as a
    * literal; every candidate's approximate distance is then 8 LUT adds
    * over its stored codes — a whole-stage-codegen'd scan of the 4-byte
    * representation, no float vectors touched until the top-k audit.
    * Reported rows carry the exact-decimal cosine (`cos_exact`, the q81
    * audit discipline) so the gate pins both the PQ arithmetic AND what
    * the compression trades away. The LUT adds are decimal-exact like
    * [[pqDistDriver]] (order can't flip a rank), ties break on n_id. */
  def pqAnnTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val cbs = trainPqCodebooks(spark, dir)
    val queries = Tables.embeddings(spark, dir).where(col("vec_id") <= 4)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val codes = pqCodesTable(spark, dir)
    val perQuery = queries.map { case (qid, qe) =>
      val lut = Array.tabulate(PqSubs * PqCodes) { idx =>
        val s = idx / PqCodes
        pqDistDriver(qe.slice(s * PqSubDim, (s + 1) * PqSubDim), cbs(s)(idx % PqCodes))
      }
      val adcTerms = (0 until PqSubs).map(s =>
        s"CAST(element_at(lut, ${s * PqCodes} + element_at(codes, ${s + 1}) + 1) AS DECIMAL(18,12))")
      codes.where(col("vec_id") =!= qid)
        .withColumn("lut", typedlit(lut.toSeq))
        .select(lit(qid).as("q_id"), col("vec_id").as("n_id"),
          expr(s"CAST(ROUND(${adcTerms.mkString(" + ")}, 12) AS DOUBLE)").as("adc_dist"))
    }
    val byDist = Window.partitionBy("q_id").orderBy(col("adc_dist").asc, col("n_id").asc)
    val top = perQuery.reduce(_ unionByName _)
      .withColumn("rank", row_number().over(byDist).cast("long"))
      .where(col("rank") <= k)
    // exact decimal cosine audit on the <= 4k surviving rows only
    val nr = withNorm(spark, dir).select(col("vec_id"), col("embedding"), col("nrm"))
    top
      .join(nr.select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("nrm").as("qn")),
        Seq("q_id"))
      .join(nr.select(col("vec_id").as("n_id"), col("embedding").as("ne"), col("nrm").as("nn")),
        Seq("n_id"))
      .select(col("q_id"), col("n_id"), col("adc_dist"), col("rank"),
        (expr(dotDec("qe", "ne")) / (col("qn") * col("nn"))).as("cos_exact"))
      .orderBy("q_id", "rank")
  }

  /** DuckDB per-subspace squared-L2 distance chain — the SQL twin of
    * [[pqDistDriver]] over list-typed operands. */
  private def pqDistChainSql(v: String, u: String): String =
    (1 to PqSubDim).map { i =>
      val x = s"($v[CAST($i AS INT)])"
      val c = s"($u[CAST($i AS INT)])"
      s"CAST((($x) - ($c)) * (($x) - ($c)) AS DECIMAL(18,12))"
    }.mkString("CAST(ROUND(", " + ", ", 12) AS DOUBLE)")

  /** DuckDB ADC expression: 8 LUT adds over `l` (the flattened per-query
    * LUT) indexed by `codes`, decimal-exact like the Spark side. */
  private def pqAdcChainSql: String =
    (0 until PqSubs).map { s =>
      s"CAST(l[CAST(${s * PqCodes} + codes[CAST(${s + 1} AS INT)] + 1 AS INT)] AS DECIMAL(18,12))"
    }.mkString("CAST(ROUND(", " + ", ", 12) AS DOUBLE)")

  /** Shared DuckDB CTE chain re-deriving the PQ MODEL: seed literal →
    * deterministic sample `ptv` (optionally further filtered by
    * `trainWhere` — q152 holds out the incremental batch) → `iters`
    * unrolled Lloyd iterations → `pc$iters(sub, code, u)`. Emitted
    * WITHOUT a leading WITH and WITH a trailing comma so callers can
    * prepend other chains (q151 prepends the trained-IVF prefix) and
    * append their own tails. */
  private def pqModelChainSql(iters: Int = PqIters, trainWhere: String = ""): String = {
    val sb = new StringBuilder
    sb ++= s"pqseeds AS (SELECT $pqSeedsSqlLiteral AS c),\n"
    sb ++= s"pss AS (SELECT unnest(range(0, $PqSubs)) AS s),\n"
    sb ++= s"pjj AS (SELECT unnest(range(0, $PqCodes)) AS j),\n"
    sb ++= s"ptv AS (SELECT vec_id, embedding FROM embeddings WHERE (vec_id * $SampleMult) % $SampleMod = 0$trainWhere),\n"
    sb ++=
      s"""psv AS (SELECT vec_id, pss.s AS sub,
         |  list_transform(range(1, ${PqSubDim + 1}), i ->
         |    CAST(embedding[CAST(pss.s * $PqSubDim + i AS INT)] AS DOUBLE)) AS v
         | FROM ptv CROSS JOIN pss),
         |pc0 AS (SELECT pss.s AS sub, pjj.j AS code,
         |  list_transform(range(1, ${PqSubDim + 1}), i ->
         |    (p.c)[CAST(pss.s + 1 AS INT)][CAST(pjj.j + 1 AS INT)][CAST(i AS INT)]) AS u
         | FROM pqseeds p CROSS JOIN pss CROSS JOIN pjj),
         |""".stripMargin
    for (t <- 1 to iters) {
      val prev = s"pc${t - 1}"
      sb ++=
        s"""pd$t AS (SELECT psv.vec_id, psv.sub, pc.code, ${pqDistChainSql("psv.v", "pc.u")} AS dist
           | FROM psv JOIN $prev pc ON pc.sub = psv.sub),
           |pa$t AS (SELECT vec_id, sub, code FROM (
           |  SELECT vec_id, sub, code,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist ASC, code ASC) AS rn
           |  FROM pd$t) z WHERE rn = 1),
           |pm$t AS (SELECT a.sub, a.code, dd.i AS dim,
           |  CAST(ROUND(SUM(CAST(psv.v[CAST(dd.i AS INT)] AS DECIMAL(28,12))), 12) AS DOUBLE)
           |    / COUNT(*) AS u1
           | FROM pa$t a JOIN psv ON psv.vec_id = a.vec_id AND psv.sub = a.sub
           | CROSS JOIN (SELECT unnest(range(1, ${PqSubDim + 1})) AS i) dd
           | GROUP BY 1, 2, 3),
           |pmu$t AS (SELECT sub, code, list(u1 ORDER BY dim) AS u FROM pm$t GROUP BY 1, 2),
           |pc$t AS (SELECT p.sub, p.code, COALESCE(n.u, p.u) AS u
           | FROM $prev p LEFT JOIN pmu$t n USING (sub, code)),
           |""".stripMargin
    }
    sb.toString
  }

  /** Shared DuckDB ENCODE chain against the `pc$iters` model: `pav`
    * (per-subspace views of the rows selected by `where`) → `pad`
    * (per-(vec, sub, code) distances — the LUT source) → `pac` (argmin
    * codes) → `cds(vec_id, codes)`. Trailing comma, same composition
    * contract as [[pqModelChainSql]]. */
  private def pqEncodeChainSql(iters: Int = PqIters, where: String = ""): String =
    s"""pav AS (SELECT vec_id, pss.s AS sub,
       |  list_transform(range(1, ${PqSubDim + 1}), i ->
       |    CAST(embedding[CAST(pss.s * $PqSubDim + i AS INT)] AS DOUBLE)) AS v
       | FROM embeddings CROSS JOIN pss$where),
       |pad AS (SELECT pav.vec_id, pav.sub, pc.code, ${pqDistChainSql("pav.v", "pc.u")} AS dist
       | FROM pav JOIN pc$iters pc ON pc.sub = pav.sub),
       |pac AS (SELECT vec_id, sub, code FROM (
       |  SELECT vec_id, sub, code,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist ASC, code ASC) AS rn
       |  FROM pad) z WHERE rn = 1),
       |cds AS (SELECT vec_id, list(code ORDER BY sub) AS codes FROM pac GROUP BY 1),
       |""".stripMargin

  /** DuckDB oracle for q150, generated in lockstep with the Scala
    * pipeline: seed literal → `iters` unrolled Lloyd iterations (same
    * decimal-exact distance/sum/mean arithmetic) → full-corpus encode →
    * per-query LUT → ADC ranking → exact-cosine audit tail. */
  def pqOracleSql(iters: Int = PqIters, k: Int = 5): String =
    "WITH " + pqModelChainSql(iters) + pqEncodeChainSql(iters) +
      s"""lutl AS (SELECT vec_id AS q_id, list(dist ORDER BY sub * $PqCodes + code) AS l
         | FROM pad WHERE vec_id <= 4 GROUP BY 1),
         |adc AS (SELECT lutl.q_id, c.vec_id AS n_id, $pqAdcChainSql AS adc_dist
         | FROM lutl CROSS JOIN cds c WHERE c.vec_id <> lutl.q_id),
         |pr AS (SELECT q_id, n_id, adc_dist,
         |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist ASC, n_id ASC) AS rank
         | FROM adc),
         |ptop AS (SELECT * FROM pr WHERE rank <= $k),
         |pnr AS (SELECT vec_id, sqrt(CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)) AS nrm
         | FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
         |pu AS (SELECT t.q_id, t.n_id, t.adc_dist, t.rank, a.nrm AS qn, b.nrm AS nn,
         |  unnest(ea.embedding) AS x, unnest(eb.embedding) AS y
         | FROM ptop t
         | JOIN embeddings ea ON ea.vec_id = t.q_id JOIN embeddings eb ON eb.vec_id = t.n_id
         | JOIN pnr a ON a.vec_id = t.q_id JOIN pnr b ON b.vec_id = t.n_id),
         |pf AS (SELECT q_id, n_id, any_value(adc_dist) AS adc_dist, any_value(rank) AS rank,
         |  CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)
         |    / (any_value(qn) * any_value(nn)) AS cos_exact
         | FROM pu GROUP BY q_id, n_id)
         |SELECT q_id, n_id, adc_dist, CAST(rank AS BIGINT) AS rank, cos_exact
         |FROM pf ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------------------------
  // q151 — IVFPQ: the composition q150's header promises ("composes
  // with IVF — scan only the probed cells' codes"). The persisted index
  // is the classic inverted-file layout: (vec_id, codes) rows
  // PARTITIONED BY the trained coarse cell, so a query's nprobe cell
  // filter becomes parquet PARTITION PRUNING — the scan physically
  // touches only the probed cells' files, which at 100 TB is the whole
  // point (FAISS IVFPQ with by_residual=false: PQ codes of the raw
  // vectors, coarse cells only route; the residual-encoding variant
  // changes the codebook input, not this plan shape).
  // ------------------------------------------------------------------

  /** The persisted IVFPQ index: trained-IVF cell + PQ codes per vector,
    * written `partitionBy("cell")` (posting-list layout — probes prune
    * partitions). Build-once per corpus fingerprint at an
    * [[Artifacts.path]]. */
  private[graft] def ivfPqIndexTable(spark: SparkSession, dir: String): DataFrame = {
    val path = Artifacts.path(spark, dir, "ivfpq_index", 151, Emb)
    if (!Artifacts.isBuilt(spark, path)) {
      val cents = trainIvfCentroids(spark, dir)
      val cbs = trainPqCodebooks(spark, dir)
      ivfAssignments(spark, dir, cents)
        .select(col("vec_id"), pqAssignCol(cbs).as("codes"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
    }
    Tables.parquet(spark, path)
  }

  /** q151 — IVFPQ top-k: each query ranks the 16 trained cells by the
    * exact-decimal scores (the q60 probe rule: score DESC, cell ASC),
    * builds its 128-entry ADC LUT on the driver (bounded model-sized
    * fetch), and ADC-scans ONLY the `nprobe` probed cells' codes — the
    * cell filter prunes index partitions, so candidates never shuffle
    * and the unprobed 12/16 of the corpus is never read. `n_scanned`
    * (per-query scanned-candidate count) is computed as a parallel
    * partial aggregation joined onto survivors, NOT a corpus-wide
    * window; top-k uses the two-phase salted ranking of [[annIvfTopK]].
    * Survivors carry the exact-decimal cosine (`cos_exact`, the q81/q150
    * audit discipline). Oracle-gated end-to-end: the DuckDB oracle
    * re-derives BOTH trained models (IVF Lloyd + PQ Lloyd) and replays
    * probe → ADC → rank → audit. */
  /** The live IVFPQ probe: per pinned query, rank cells by the
    * exact-decimal scores, build the 128-entry ADC LUT on the driver,
    * and scan ONLY the probed cells' codes (partition pruning). Returns
    * the candidate set (q_id, n_id, cell, adc_dist) — the serving-path
    * kernel q151 times live; the q153/q154/q155 audit/maintenance
    * queries read its persisted twin [[ivfPqCandTable]] (the q29
    * artifact contract: oracles re-derive everything regardless). */
  private[graft] def ivfPqCandidates(spark: SparkSession, dir: String,
      nprobe: Int = 4): DataFrame = {
    val cents = trainIvfCentroids(spark, dir)
    val cbs = trainPqCodebooks(spark, dir)
    val idx = ivfPqIndexTable(spark, dir)
    // bounded driver fetch (<= 5 query rows): exact-decimal cell scores
    // computed by the same cellScoresDecCol the gated q60 family uses
    val qRows = withNorm(spark, dir).where(col("vec_id") <= 4)
      .withColumn("dscores", cellScoresDecCol(cents))
      .select(col("vec_id"), col("embedding"), col("dscores")).collect()
      .sortBy(_.getLong(0))
    val perQuery = qRows.toSeq.map { r =>
      val qid = r.getLong(0)
      val qe = r.getSeq[Float](1).map(_.toDouble).toArray
      val scores = r.getSeq[Double](2).toArray
      val probes = scores.zipWithIndex.sortBy { case (s, c) => (-s, c) }
        .take(nprobe).map(_._2)
      val lut = Array.tabulate(PqSubs * PqCodes) { i =>
        val s = i / PqCodes
        pqDistDriver(qe.slice(s * PqSubDim, (s + 1) * PqSubDim), cbs(s)(i % PqCodes))
      }
      val adcTerms = (0 until PqSubs).map(s =>
        s"CAST(element_at(lut, ${s * PqCodes} + element_at(codes, ${s + 1}) + 1) AS DECIMAL(18,12))")
      idx.where(col("cell").isin(probes.toSeq: _*)) // partition pruning
        .where(col("vec_id") =!= qid)
        .withColumn("lut", typedlit(lut.toSeq))
        .select(lit(qid).as("q_id"), col("vec_id").as("n_id"),
          col("cell").cast("long").as("cell"),
          expr(s"CAST(ROUND(${adcTerms.mkString(" + ")}, 12) AS DOUBLE)").as("adc_dist"))
    }
    perQuery.reduce(_ unionByName _)
  }

  /** Persisted [[ivfPqCandidates]] output per corpus fingerprint —
    * the shared input of the q153/q154/q155 audit & maintenance family
    * (an [[Artifacts.persisted]] table, built by the q153 setup entry). */
  private[graft] def ivfPqCandTable(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "ivfpq_cand", 153, Emb)(ivfPqCandidates(spark, dir))

  def ivfPqTopK(spark: SparkSession, dir: String, nprobe: Int = 4, k: Int = 5): DataFrame = {
    val cand = ivfPqCandidates(spark, dir, nprobe)
    val scanned = cand.groupBy("q_id").agg(count(lit(1)).as("n_scanned"))
    val byDist = Seq(col("adc_dist").asc, col("n_id").asc)
    val local = Window.partitionBy(col("q_id"), pmod(hash(col("n_id")), lit(32)))
      .orderBy(byDist: _*)
    val global = Window.partitionBy("q_id").orderBy(byDist: _*)
    val top = cand
      .withColumn("r", row_number().over(local)).where(col("r") <= k).drop("r")
      .withColumn("rank", row_number().over(global).cast("long")).where(col("rank") <= k)
    // audit tail joins RAW embeddings and computes the decimal dot/norms
    // on the ≤ k·|queries| survivors only — computing withNorm's
    // interpreted decimal fold corpus-wide to serve 25 rows scaled 4×
    // worse at the 8× probe
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    top
      .join(broadcast(scanned), Seq("q_id"))
      .join(emb.select(col("vec_id").as("q_id"), col("embedding").as("qe")), Seq("q_id"))
      .join(emb.select(col("vec_id").as("n_id"), col("embedding").as("ne")), Seq("n_id"))
      .select(col("q_id"), col("n_id"), col("cell"), col("adc_dist"), col("rank"),
        col("n_scanned"),
        (expr(dotDec("qe", "ne"))
          / (sqrt(expr(dotDec("qe", "qe"))) * sqrt(expr(dotDec("ne", "ne"))))).as("cos_exact"))
      .orderBy("q_id", "rank")
  }

  /** DuckDB oracle for q151: the trained-IVF prefix ([[ivfModelPrefixSql]],
    * ending at `w(vec_id, embedding, cell, nrm)`) + the PQ model/encode
    * chains, then probe (`fsc` scores, s DESC / cell ASC) → candidates
    * restricted to probed cells → ADC rank → exact-cosine audit. */
  /** Shared DuckDB chain re-deriving the full IVFPQ probe: trained-IVF
    * prefix ([[ivfModelPrefixSql]], ends at `w(vec_id, embedding, cell,
    * nrm)` + `nr`) + PQ model/encode chains, then probe → `adc(q_id,
    * n_id, cell, adc_dist, n_scanned)`. Trailing comma — q151/q153/
    * q154/q155 append their own tails. */
  private def ivfPqAdcChainSql(ivfIters: Int = 3, pqIters: Int = PqIters,
      nprobe: Int = 4): String =
    ivfModelPrefixSql(ivfIters) + pqModelChainSql(pqIters) + pqEncodeChainSql(pqIters) +
      s"""pk AS (SELECT q_id, cell AS pcell FROM (
         |  SELECT vec_id AS q_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS prn
         |  FROM fsc WHERE vec_id <= 4) z WHERE prn <= $nprobe),
         |lutl AS (SELECT vec_id AS q_id, list(dist ORDER BY sub * $PqCodes + code) AS l
         | FROM pad WHERE vec_id <= 4 GROUP BY 1),
         |icand AS (SELECT pk.q_id, w.vec_id AS n_id, CAST(w.cell AS BIGINT) AS cell, c.codes
         | FROM pk JOIN w ON w.cell = pk.pcell JOIN cds c ON c.vec_id = w.vec_id
         | WHERE w.vec_id <> pk.q_id),
         |adc AS (SELECT icand.q_id, icand.n_id, icand.cell, $pqAdcChainSql AS adc_dist,
         |  COUNT(*) OVER (PARTITION BY icand.q_id) AS n_scanned
         | FROM icand JOIN lutl ON lutl.q_id = icand.q_id),
         |""".stripMargin

  def ivfPqOracleSql(ivfIters: Int = 3, pqIters: Int = PqIters,
      nprobe: Int = 4, k: Int = 5): String =
    ivfPqAdcChainSql(ivfIters, pqIters, nprobe) +
      s"""pr AS (SELECT q_id, n_id, cell, adc_dist, n_scanned,
         |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist ASC, n_id ASC) AS rank
         | FROM adc),
         |ptop AS (SELECT * FROM pr WHERE rank <= $k),
         |pu AS (SELECT t.q_id, t.n_id, t.cell, t.adc_dist, t.rank, t.n_scanned,
         |  a.nrm AS qn, b.nrm AS nn,
         |  unnest(ea.embedding) AS x, unnest(eb.embedding) AS y
         | FROM ptop t
         | JOIN embeddings ea ON ea.vec_id = t.q_id JOIN embeddings eb ON eb.vec_id = t.n_id
         | JOIN nr a ON a.vec_id = t.q_id JOIN nr b ON b.vec_id = t.n_id),
         |pf AS (SELECT q_id, n_id, any_value(cell) AS cell, any_value(adc_dist) AS adc_dist,
         |  any_value(rank) AS rank, any_value(n_scanned) AS n_scanned,
         |  CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)
         |    / (any_value(qn) * any_value(nn)) AS cos_exact
         | FROM pu GROUP BY q_id, n_id)
         |SELECT q_id, n_id, cell, adc_dist, CAST(rank AS BIGINT) AS rank,
         |  CAST(n_scanned AS BIGINT) AS n_scanned, cos_exact
         |FROM pf ORDER BY q_id, rank""".stripMargin

  /** q152 — incremental PQ encode (the q87 maintenance convention
    * applied to q150): the arriving batch (vec_id % 10 == [[BatchResidue]])
    * encodes against FROZEN codebooks trained on the pre-batch corpus
    * only — the index grows by appending 4-byte codes, no retrain, no
    * corpus touch (the batch never joins corpus rows at all; the model
    * is bounded driver state). Each row reports its codes and the
    * decimal-exact reconstruction error (sum over subspaces of the
    * distance to the chosen codeword) — the quantization-health number
    * an index operator watches to decide WHEN a retrain is due (recon
    * drift = the batch has left the codebooks' distribution; q112's
    * drift logic one level down the ANN stack). */
  def pqIncrementalEncode(spark: SparkSession, dir: String): DataFrame =
    pqIncrementalEncodeOf(spark, dir,
      Tables.embeddings(spark, dir).where(pmod(col("vec_id"), lit(10L)) === BatchResidue))

  /** [[pqIncrementalEncode]] against an ARBITRARY batch frame (vec_id,
    * embedding, ...) — the core the streaming twin feeds micro-batches
    * through. Every row's encode depends only on itself plus the FROZEN
    * corpus-only codebooks, so any micro-batching of the batch set
    * reproduces the batch q152 table exactly (spec'd in StreamingSpec). */
  def pqIncrementalEncodeOf(spark: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    val cbs = trainPqCodebooks(spark, dir, corpusOnly = true)
    // Codebooks enter as nested-array LITERALS and distances fold through
    // a transform/aggregate lambda — the same per-term CAST((x−u)² AS
    // DECIMAL(18,12)) + exact decimal sum as [[pqDistDriver]], but the
    // Catalyst tree is ~10² nodes per subspace instead of the unrolled
    // form's ~10⁴ (whose per-run analysis cost dominated at ~6 s/run;
    // the lambda runs interpreted, which is nothing at batch row counts).
    // The running sum is cast back to DECIMAL(18,12) each step: exact
    // while the subspace distance < 10⁶, guaranteed by unit-scale
    // embeddings (the unrolled twin's headroom argument, scale-grown).
    def distsCol(s: Int): Column =
      transform(typedlit(cbs(s).map(_.toSeq).toSeq), u =>
        round(org.apache.spark.sql.functions.aggregate(
          sequence(lit(1), lit(PqSubDim)),
          expr("CAST(0 AS DECIMAL(18,12))"),
          (acc, i) => {
            val x = element_at(col(s"sv$s"), i.cast("int"))
            val c = element_at(u, i.cast("int"))
            (acc + ((x - c) * (x - c)).cast("decimal(18,12)")).cast("decimal(18,12)")
          }), 12).cast("double"))
    val subViews = batch
      .select(col("vec_id") +: (0 until PqSubs).map { s =>
        expr(s"slice(transform(embedding, v -> CAST(v AS DOUBLE)), ${s * PqSubDim + 1}, $PqSubDim)")
          .as(s"sv$s")
      }: _*)
    val withD = subViews.select(
      col("vec_id") +: (0 until PqSubs).map(s => distsCol(s).as(s"d$s")): _*)
    val dcols = (0 until PqSubs).map(s => col(s"d$s"))
    val codes = dcols.map(d => (array_position(d, array_min(d)) - 1).cast("int"))
    val recon = round(dcols.map(d => array_min(d).cast("decimal(18,12)"))
      .reduce(_ + _), 12).cast("double")
    withD
      .select(col("vec_id"),
        concat_ws("-", array(codes: _*).cast("array<string>")).as("codes"),
        recon.as("recon_err"))
      .orderBy("vec_id")
  }

  /** DuckDB oracle for q152: PQ Lloyd chain with the batch held out of
    * the training sample, encode of the batch rows only, then codes as
    * a '-'-joined string + the decimal-exact reconstruction error. */
  def pqIncrementalOracleSql(iters: Int = PqIters): String =
    "WITH " + pqModelChainSql(iters, s" AND vec_id % 10 <> $BatchResidue") +
      pqEncodeChainSql(iters, s" WHERE vec_id % 10 = $BatchResidue") +
      s"""bsel AS (SELECT vec_id, sub, dist FROM (
         |  SELECT vec_id, sub, dist,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist ASC, code ASC) AS rn
         |  FROM pad) z WHERE rn = 1),
         |rec AS (SELECT vec_id, CAST(ROUND(SUM(CAST(dist AS DECIMAL(18,12))), 12) AS DOUBLE) AS recon_err
         | FROM bsel GROUP BY 1),
         |cstr AS (SELECT vec_id, string_agg(CAST(code AS VARCHAR), '-' ORDER BY sub) AS codes
         | FROM pac GROUP BY 1)
         |SELECT c.vec_id, c.codes, r.recon_err
         |FROM cstr c JOIN rec r USING (vec_id) ORDER BY vec_id""".stripMargin

  /** q153 — two-stage serving (the production retrieval pattern: coarse
    * quantized recall, exact precision): the IVFPQ candidates' ADC
    * shortlist (top-`r` per query) is re-scored with the exact decimal
    * cosine and re-ranked; `promoted` marks neighbors the rerank rescued
    * from outside the ADC top-k — the number an operator watches to size
    * `r`. Reads the persisted candidate artifact ([[ivfPqCandTable]] —
    * the audit leg never re-prices the live probe q151 times); the
    * rerank joins float vectors for ONLY the ≤ r·|queries| shortlist
    * rows, so at 100 TB the exact leg touches r·q vectors, not the
    * corpus. */
  def ivfPqRerank(spark: SparkSession, dir: String, r: Int = 20, k: Int = 5): DataFrame = {
    val cand = ivfPqCandTable(spark, dir)
    val byAdc = Window.partitionBy("q_id").orderBy(col("adc_dist").asc, col("n_id").asc)
    val shortlist = cand
      .withColumn("adc_rank", row_number().over(byAdc).cast("long"))
      .where(col("adc_rank") <= r)
    // raw-embedding joins; the decimal dot/norm folds run on the ≤ r·|q|
    // shortlist survivors only (the q151 audit-tail rule)
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val scored = shortlist
      .join(emb.select(col("vec_id").as("q_id"), col("embedding").as("qe")), Seq("q_id"))
      .join(emb.select(col("vec_id").as("n_id"), col("embedding").as("ne")), Seq("n_id"))
      .select(col("q_id"), col("n_id"), col("adc_rank"),
        (expr(dotDec("qe", "ne"))
          / (sqrt(expr(dotDec("qe", "qe"))) * sqrt(expr(dotDec("ne", "ne"))))).as("cos_exact"))
    val byCos = Window.partitionBy("q_id").orderBy(col("cos_exact").desc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(byCos).cast("long")).where(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), col("adc_rank"), col("cos_exact"),
        (col("adc_rank") > k).as("promoted"))
      .orderBy("q_id", "rank")
  }

  /** DuckDB oracle for q153: the shared ADC chain, then shortlist
    * (ADC rank ≤ r) → exact decimal cosine via positional unnest →
    * rerank → top-k with the promoted flag. */
  def ivfPqRerankOracleSql(r: Int = 20, k: Int = 5): String =
    ivfPqAdcChainSql() +
      s"""rsl AS (SELECT q_id, n_id, adc_dist,
         |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist ASC, n_id ASC) AS adc_rank
         | FROM adc QUALIFY adc_rank <= $r),
         |rru AS (SELECT t.q_id, t.n_id, t.adc_rank, a.nrm AS qn, b.nrm AS nn,
         |  unnest(ea.embedding) AS x, unnest(eb.embedding) AS y
         | FROM rsl t
         | JOIN embeddings ea ON ea.vec_id = t.q_id JOIN embeddings eb ON eb.vec_id = t.n_id
         | JOIN nr a ON a.vec_id = t.q_id JOIN nr b ON b.vec_id = t.n_id),
         |rrf AS (SELECT q_id, n_id, any_value(adc_rank) AS adc_rank,
         |  CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)
         |    / (any_value(qn) * any_value(nn)) AS cos_exact
         | FROM rru GROUP BY q_id, n_id),
         |rrk AS (SELECT q_id, n_id, adc_rank, cos_exact,
         |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_exact DESC, n_id ASC) AS rank
         | FROM rrf)
         |SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, CAST(adc_rank AS BIGINT) AS adc_rank,
         |  cos_exact, adc_rank > $k AS promoted
         |FROM rrk WHERE rank <= $k ORDER BY q_id, rank""".stripMargin

  /** q154 — IVFPQ recall audit (the q88 discipline applied to the top of
    * the ANN ladder): per pinned query, recall@k of the ADC top-k
    * against the exact brute-force cosine top-k ([[knnBrute]]'s truth,
    * co-computed live — the audit prices its own truth leg). Both legs
    * are deterministic, so the recall NUMBERS are hash-gated directly —
    * no error band needed. Constant audit slice at any corpus size
    * (5 queries); the retrieved leg reads the persisted candidates. */
  /** Persisted exact brute-force top-5 per pinned query ([[knnBrute]]'s
    * output) — the shared ground-truth table the recall audits join
    * against (built once per corpus fingerprint by the q154 setup entry;
    * q33 itself stays live — it PRICES the brute baseline, the audits
    * only consume its result). */
  private[graft] def knnTruthTable(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "knn_truth", 154, Emb)(knnBrute(spark, dir))

  def ivfPqRecall(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val truth = knnTruthTable(spark, dir).select(col("q_id"), col("n_id"))
    val byAdc = Window.partitionBy("q_id").orderBy(col("adc_dist").asc, col("n_id").asc)
    val retrieved = ivfPqCandTable(spark, dir)
      .withColumn("r", row_number().over(byAdc)).where(col("r") <= k)
      .select(col("q_id"), col("n_id"))
    val hits = truth.join(retrieved, Seq("q_id", "n_id"))
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    truth.select("q_id").distinct()
      .join(broadcast(hits), Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") / k).as("recall"))
      .orderBy("q_id")
  }

  /** DuckDB oracle for q154: exact truth via a positional-unnest cosine
    * over the 5 pinned queries × corpus (the [[knnBruteOracleSql]]
    * arithmetic on the prefix's `w`), ADC top-k from the shared chain,
    * then per-query intersection counts. */
  def ivfPqRecallOracleSql(k: Int = 5): String =
    ivfPqAdcChainSql() +
      s"""xu AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, q.nrm AS qn, c.nrm AS cn,
         |  unnest(q.embedding) AS x, unnest(c.embedding) AS y
         | FROM w q JOIN w c ON c.vec_id <> q.vec_id WHERE q.vec_id <= 4),
         |xc AS (SELECT q_id, n_id,
         |  CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)
         |    / (any_value(qn) * any_value(cn)) AS cos_sim
         | FROM xu GROUP BY q_id, n_id),
         |xt AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC) AS rn
         |  FROM xc) z WHERE rn <= $k),
         |rt AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist ASC, n_id ASC) AS rn
         |  FROM adc) z WHERE rn <= $k),
         |hs AS (SELECT xt.q_id, COUNT(*) AS hits
         | FROM xt JOIN rt ON rt.q_id = xt.q_id AND rt.n_id = xt.n_id GROUP BY 1)
         |SELECT q.q_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
         |  CAST(COALESCE(h.hits, 0) AS DOUBLE) / $k AS recall
         |FROM (SELECT DISTINCT q_id FROM xt) q LEFT JOIN hs h USING (q_id)
         |ORDER BY q_id""".stripMargin

  /** q155 — tombstone-aware serving (ANN index delete handling): a
    * deterministic delete set (vec_id % 17 = 3, the demo stand-in for a
    * production tombstone side table) is EXCLUDED on the probe path —
    * candidates anti-filtered before ranking, per-query excluded counts
    * reported (the compaction-due signal: when a cell's dead ratio
    * passes threshold, rewrite that one partition — the partitionBy
    * layout makes compaction per-cell, never a full-index rewrite).
    * Reads the persisted candidates; production composes the same
    * anti-join with the live probe. */
  def ivfPqDeletes(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val cand = ivfPqCandTable(spark, dir)
    val dead = pmod(col("n_id"), lit(17L)) === 3
    val excluded = cand.groupBy("q_id")
      .agg(sum(when(dead, 1L).otherwise(0L)).as("n_excluded"))
    val byAdc = Window.partitionBy("q_id").orderBy(col("adc_dist").asc, col("n_id").asc)
    cand.where(!dead)
      .withColumn("rank", row_number().over(byAdc).cast("long")).where(col("rank") <= k)
      .join(broadcast(excluded), Seq("q_id"))
      .select(col("q_id"), col("n_id"), col("rank"), col("adc_dist"), col("n_excluded"))
      .orderBy("q_id", "rank")
  }

  /** DuckDB oracle for q155: the shared ADC chain, tombstones excluded
    * before ranking, per-query excluded counts joined on. */
  def ivfPqDeletesOracleSql(k: Int = 3): String =
    ivfPqAdcChainSql() +
      s"""dx AS (SELECT q_id,
         |  CAST(SUM(CASE WHEN n_id % 17 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_excluded
         | FROM adc GROUP BY 1),
         |lv AS (SELECT q_id, n_id, adc_dist,
         |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist ASC, n_id ASC) AS rank
         | FROM adc WHERE n_id % 17 <> 3)
         |SELECT l.q_id, l.n_id, CAST(l.rank AS BIGINT) AS rank, l.adc_dist, d.n_excluded
         |FROM lv l JOIN dx d USING (q_id) WHERE l.rank <= $k ORDER BY q_id, rank""".stripMargin

  /** q159 — IVFPQ index compaction (the lifecycle step after q155's
    * tombstone filtering): per cell, live/dead counts and the
    * `compacted` verdict (dead fraction > `tau`); flagged cells are
    * REWRITTEN without their tombstones into the v2 index artifact,
    * unflagged cells carry over untouched — the `partitionBy(cell)`
    * layout makes compaction a per-partition rewrite, never a full-index
    * rebuild (at 100 TB the rewrite I/O is dead_cells/16 of the index,
    * and probes against v2 need no tombstone anti-join for compacted
    * cells). The spec pins v2 = v1 minus flagged-cell tombstones,
    * byte-for-byte on codes. Gated output is the per-cell report; the
    * oracle re-derives cell populations from the trained-IVF prefix. */
  def ivfPqCompaction(spark: SparkSession, dir: String, tau: Double = 0.05): DataFrame = {
    val idx = ivfPqIndexTable(spark, dir)
    val dead = pmod(col("vec_id"), lit(17L)) === 3
    val report = idx.groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(dead, 1L).otherwise(0L)).as("n_dead"))
      .select(col("cell"), col("n_total"), col("n_dead"),
        (col("n_dead").cast("double") / col("n_total").cast("double")).as("dead_frac"))
      .withColumn("compacted", col("dead_frac") > tau)
    val path = ivfPqIndexV2Path(spark, dir, tau)
    if (!Artifacts.isBuilt(spark, path)) {
      val flagged = report.where(col("compacted")).select("cell")
        .collect().map(_.getLong(0)) // bounded: ≤ NumCells rows
      idx.where(!(col("cell").isin(flagged.toSeq: _*) && dead))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
    }
    report.orderBy("cell")
  }

  /** The compacted (v2) IVFPQ index q159 writes — exposed for the spec's
    * byte-level v1-minus-tombstones equivalence check. */
  private[graft] def ivfPqIndexV2(spark: SparkSession, dir: String, tau: Double = 0.05): DataFrame = {
    ivfPqCompaction(spark, dir, tau).count() // ensure built
    Tables.parquet(spark, ivfPqIndexV2Path(spark, dir, tau))
  }

  private def ivfPqIndexV2Path(spark: SparkSession, dir: String, tau: Double): String =
    Artifacts.path(spark, dir, "ivfpq_index_v2", 159 + (tau * 100).toInt, Emb)

  /** DuckDB oracle for q159: cell populations from the trained-IVF
    * prefix, dead counts by the q155 tombstone rule, threshold literal. */
  def ivfPqCompactionOracleSql(tau: String = "0.05"): String =
    ivfModelPrefixSql(3) +
      s"""ccs AS (SELECT CAST(cell AS BIGINT) AS cell,
         |  CAST(COUNT(*) AS BIGINT) AS n_total,
         |  CAST(SUM(CASE WHEN vec_id % 17 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_dead
         | FROM fas GROUP BY 1)
         |SELECT cell, n_total, n_dead,
         |  CAST(n_dead AS DOUBLE) / CAST(n_total AS DOUBLE) AS dead_frac,
         |  CAST(n_dead AS DOUBLE) / CAST(n_total AS DOUBLE) > $tau AS compacted
         |FROM ccs ORDER BY cell""".stripMargin

  /** q157 — per-cluster representatives (coreset/prototype selection,
    * the SemDeDup-prototype step of cluster-balanced curation): for each
    * trained-IVF cell, the `m` vectors with the highest exact-decimal
    * score to the cell's unit centroid — the members a curation pipeline
    * keeps as cluster prototypes (or shows a human as the cluster's
    * face). Assignment + scoring are map-side (the gated q60/q73 model);
    * top-m per cell rides the two-phase salted ranking, so no single
    * reducer ever sees a whole cell's rows (cells hold ~n/16 rows — at
    * 100 TB a naive per-cell window is the bottleneck this avoids).
    * `cell_size` comes from a parallel partial aggregation of the
    * bounded (16-row) per-cell counts. */
  def cellRepresentatives(spark: SparkSession, dir: String, m: Int = 3): DataFrame = {
    // corpus-level derived table → persist once per corpus fingerprint
    // (the q61 label-table precedent); the live query reads + orders
    Artifacts.persisted(spark, dir, "cell_reps", 157 + m, Emb)(
      cellRepresentativesCompute(spark, dir, m)).orderBy("cell", "rep_rank")
  }

  private def cellRepresentativesCompute(spark: SparkSession, dir: String, m: Int): DataFrame = {
    val cents = trainIvfCentroids(spark, dir)
    // ONE decimal dot per row (against the broadcast-joined assigned
    // centroid), not 16: selecting element_at(cellScoresDecCol, cell+1)
    // would force all 16 interpreted decimal folds per row — measured
    // 16× slower for the same bit-identical score.
    val centsDf = broadcast(spark.createDataFrame(
      cents.toIndexedSeq.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) })
      .toDF("cell", "centroid"))
    val asg = ivfAssignments(spark, dir, cents)
      .select(col("vec_id"), col("cell").cast("long").as("cell"), col("embedding"))
      .join(centsDf, Seq("cell"))
      .select(col("vec_id"), col("cell"),
        expr(dotDec("embedding", "centroid")).as("score"))
    val sizes = asg.groupBy("cell").agg(count(lit(1)).as("cell_size"))
    val byScore = Seq(col("score").desc, col("vec_id").asc)
    val local = Window.partitionBy(col("cell"), pmod(hash(col("vec_id")), lit(32)))
      .orderBy(byScore: _*)
    val global = Window.partitionBy("cell").orderBy(byScore: _*)
    asg
      .withColumn("r", row_number().over(local)).where(col("r") <= m).drop("r")
      .withColumn("rep_rank", row_number().over(global).cast("long")).where(col("rep_rank") <= m)
      .join(broadcast(sizes), Seq("cell"))
      .select(col("cell"), col("vec_id"), col("rep_rank"), col("score"), col("cell_size"))
      .orderBy("cell", "rep_rank")
  }

  /** DuckDB oracle for q157: the trained-IVF prefix's full-corpus scores
    * (`fsc`) restricted to each vector's assigned cell (`fas`), ranked
    * per cell (score DESC, vec_id ASC), with per-cell sizes. */
  def cellRepresentativesOracleSql(m: Int = 3): String =
    ivfModelPrefixSql(3) +
      s"""csz AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS cell_size FROM fas GROUP BY 1),
         |rp AS (SELECT a.cell, f.vec_id, f.s AS score,
         |  ROW_NUMBER() OVER (PARTITION BY a.cell ORDER BY f.s DESC, f.vec_id ASC) AS rep_rank
         | FROM fas a JOIN fsc f ON f.vec_id = a.vec_id AND f.cell = a.cell)
         |SELECT CAST(r.cell AS BIGINT) AS cell, r.vec_id, CAST(r.rep_rank AS BIGINT) AS rep_rank,
         |  r.score, c.cell_size
         |FROM rp r JOIN csz c ON c.cell = r.cell WHERE r.rep_rank <= $m
         |ORDER BY cell, rep_rank""".stripMargin

  /** Runtime guard for [[embeddingDrift]]'s DECIMAL(38) headroom: the
    * per-label cross-product `sum(decimal(30,0)) × count(decimal(7,0))`
    * is exact only while every label holds < 10⁷ vectors on each side.
    * The bound used to live in a comment; this enforces it — a label at
    * or past the cap fails the job with an actionable message (shard
    * the label) instead of overflowing silently. Distributed, lazy, and
    * free on the happy path (one codegen'd branch per label row). */
  private[graft] def capLabelCounts(counts: DataFrame): DataFrame = {
    val cap = 10000000L // 10^7: decimal(30)·decimal(7) stays inside 38
    def guard(c: String) = when(col(c) >= cap,
      raise_error(concat(lit("embeddingDrift: label "), col("label").cast("string"),
        lit(s" has $c >= 1e7 vectors; the DECIMAL(38) cross-product would" +
          " overflow — shard the label before monitoring"))))
      .otherwise(col(c))
    // withColumn, not select: the caller's other columns (the per-dim
    // fixed-point sums) ride through; on the labels × 64 bounded frame
    // the redundant per-dim checks are free
    counts.withColumn("n_batch", guard("n_batch"))
      .withColumn("n_hist", guard("n_hist"))
  }
}
