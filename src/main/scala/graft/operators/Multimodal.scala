package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.reflect.runtime.universe.TypeTag

import graft.sources.{Artifacts, Tables}

/** Multimodal-column pipeline: image/audio/video as opaque `binary`
  * payloads with typed metadata, decoded in partition-sized batches.
  *
  * The decode kernels are REAL, codec-free byte arithmetic over three
  * self-describing formats (this container has no codec libraries, so the
  * formats are ones whose spec is pure header + raw samples):
  *
  *   - BMP: 14-byte file header + 40-byte BITMAPINFOHEADER, 24-bpp,
  *     bottom-up rows padded to 4-byte boundaries, BGR byte order. The
  *     decoder parses the header fields (offset, dims, planes, bpp,
  *     compression), un-pads each row, flips the vertical order and
  *     un-swizzles BGR back to the logical top-down RGB stream.
  *   - WAV: RIFF container walked chunk-by-chunk (word-aligned), `fmt `
  *     validated as PCM mono 16-bit, `data` parsed as little-endian
  *     signed samples.
  *   - Video: a concatenated stream of binary PPM (P6) frames (the
  *     image2pipe layout) — each frame's ASCII header is parsed, frame
  *     count is discovered from the stream itself, and 5 evenly spaced
  *     frames are sampled via [[frameOffsets]].
  *
  * Payloads are synthesized from a deterministic integer formula of
  * `doc_id` (encode side), so a DuckDB oracle can recompute the decoded
  * features in closed form — the q36 hash gate checks the full
  * encode → real parse → feature roundtrip. The order-weighted `checksum`
  * feature makes the gate sensitive to row flips, BGR swizzle, row
  * padding and frame-sampling mistakes that order-invariant aggregates
  * (sum/min/max) would miss.
  *
  * Analog in the reference: the typed-record parse discipline of
  * StreamingJob.scala:112–138 (parse → validate → typed fields) applied
  * to binary records.
  *
  * Scale notes: synthesis and decode are both map-side (no shuffle
  * touches a payload); output is a narrow numeric feature row. At 100 TB
  * you'd repartitionByRange on doc_id only for sink file sizing.
  */
object Multimodal {

  // deterministic payload-content formulas, shared verbatim by the
  // encoder, the spec's golden values, and the q36 DuckDB oracle
  private[graft] val SeedMul  = 131L
  private[graft] val IdxMul   = 7919L
  private[graft] val FrameMul = 104729L
  private[graft] def imgW(docId: Long): Int      = (docId % 24 + 8).toInt
  private[graft] def imgH(docId: Long): Int      = (docId % 16 + 8).toInt
  private[graft] def vidFrames(docId: Long): Int = (docId % 30 + 1).toInt
  private[graft] def wavSamples(docId: Long): Int = (docId % 2000 + 500).toInt
  /** Image pixel byte at logical top-down RGB flat index `i`. */
  private[graft] def imgVal(docId: Long, i: Int): Int =
    ((docId * SeedMul + i * IdxMul) % 256).toInt
  /** Video pixel byte in frame `f` at flat index `i`. */
  private[graft] def vidVal(docId: Long, f: Int, i: Int): Int =
    ((docId * SeedMul + f * FrameMul + i * IdxMul) % 256).toInt
  /** Signed 16-bit PCM sample `i`. */
  private[graft] def wavVal(docId: Long, i: Int): Short =
    ((docId * SeedMul + i * IdxMul) % 65536 - 32768).toShort

  /** Typed media record (public: Catalyst's generated serializer must
    * construct it). */
  case class MediaRecord(doc_id: Long, payload: Array[Byte], format: String,
                         width: Int, height: Int, n_frames: Int)

  /** Deterministic synthetic media table derived from `documents`:
    * doc_id % 3 picks the modality (0 = BMP image, 1 = WAV audio,
    * 2 = PPM-stream video) and the payload is a REAL encoding in that
    * format of formula-generated pixels/samples. Map-side only; the
    * documents scan is pruned to the single `doc_id` column. */
  def synthesizeMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          (id % 3).toInt match {
            case 0 =>
              val (w, h) = (imgW(id), imgH(id))
              MediaRecord(id, MediaCodecs.encodeBmp(w, h, imgVal(id, _)), "bmp", w, h, 1)
            case 1 =>
              val n = wavSamples(id)
              MediaRecord(id, MediaCodecs.encodeWav(Array.tabulate(n)(wavVal(id, _))), "wav", 0, 0, 1)
            case _ =>
              val (w, h, nf) = (imgW(id), imgH(id), vidFrames(id))
              MediaRecord(id, MediaCodecs.encodePpmStream(w, h, nf, vidVal(id, _, _)), "vid", w, h, nf)
          }
        }
      }
      .select(col("doc_id"), col("payload"),
        struct(col("format"), col("width"), col("height"), col("n_frames")).as("meta"))
  }

  /** Typed input batch row for the decode kernel. Only doc_id + payload:
    * the kernel sniffs the format and parses ALL geometry from the bytes
    * themselves — metadata is never trusted for decode. */
  case class MediaIn(doc_id: Long, payload: Array[Byte])
  /** Narrow numeric feature row the decoder emits. `checksum` is the
    * order-weighted sum Σ (i+1)·value(i) over the logical value stream. */
  case class MediaFeatureRow(doc_id: Long, format: String, payload_bytes: Long,
                             n_values: Long, sum_values: Long, min_value: Long,
                             max_value: Long, checksum: Long, n_sampled_frames: Long)

  /** Batched feature extraction over binary payloads — a typed
    * `Dataset.mapPartitions` so a real codec could amortize context setup
    * per partition. Stays inside the Dataset plan (Deserialize →
    * MapPartitions → Serialize, no RDD/createDataFrame hop), so Catalyst
    * still prunes the scan and the downstream plan re-enters whole-stage
    * codegen. */
  def extractFeatures(media: DataFrame): DataFrame =
    decodeRows(media)((id, payload) => Iterator.single(decodeToFeatures(id, payload)))

  /** The typed batch-decode shape every media kernel runs in: the
    * (doc_id, payload) rows of `media` (a NULL payload as no bytes) go
    * through `kernel` inside one `Dataset.mapPartitions`, whose per-
    * partition setup runs once (decoder buffers would go there), and the
    * kernel's rows are the result. */
  private def decodeRows[T <: Product : TypeTag](media: DataFrame)(
      kernel: (Long, Array[Byte]) => Iterator[T]): DataFrame = {
    import media.sparkSession.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaIn]
      .mapPartitions(rows => rows.flatMap(m =>
        kernel(m.doc_id, Option(m.payload).getOrElse(Array.emptyByteArray))))
      .toDF()
  }

  /** Sniff the container from magic bytes, parse it, and fold the decoded
    * value stream into the feature row in one pass. */
  private[graft] def decodeToFeatures(docId: Long, payload: Array[Byte]): MediaFeatureRow = {
    var n = 0L; var sum = 0L; var mn = Long.MaxValue; var mx = Long.MinValue; var cks = 0L
    @inline def acc(v: Long): Unit = {
      n += 1; sum += v; if (v < mn) mn = v; if (v > mx) mx = v; cks += n * v
    }
    MediaCodecs.sniff(payload) match {
      case "bmp" =>
        MediaCodecs.decodeBmp(payload)(v => acc(v.toLong))
        MediaFeatureRow(docId, "bmp", payload.length.toLong, n, sum, mn, mx, cks, 1L)
      case "wav" =>
        MediaCodecs.decodeWav(payload)(s => acc(s.toLong))
        MediaFeatureRow(docId, "wav", payload.length.toLong, n, sum, mn, mx, cks, 1L)
      case "vid" =>
        val sampled = MediaCodecs.decodePpmStreamSampled(payload, 5)(v => acc(v.toLong))
        MediaFeatureRow(docId, "vid", payload.length.toLong, n, sum, mn, mx, cks, sampled.toLong)
      case other =>
        throw new IllegalArgumentException(s"doc $docId: unknown media container '$other'")
    }
  }

  /** Frame sampling: offsets of `k` evenly spaced frames out of n. */
  def frameOffsets(nFrames: Int, k: Int): Array[Int] =
    if (nFrames <= 0) Array.empty
    else if (nFrames <= k) Array.range(0, nFrames)
    else Array.tabulate(k)(i => i * nFrames / k)

  /** Thumbnail edge for [[mediaThumbnails]] (8×8 grayscale). */
  val ThumbEdge = 8

  /** Typed output row of the resize kernel. `thumb_checksum` is the
    * order-weighted Σ (t+1)·gray(t) over the ThumbEdge² grid, the q36
    * gate pattern. */
  case class ThumbRow(doc_id: Long, src_w: Long, src_h: Long, thumb_mean: Long,
                      thumb_min: Long, thumb_max: Long, thumb_checksum: Long)

  /** Nearest-neighbor grayscale resize of one decoded BMP to
    * [[ThumbEdge]]² — source pixel for thumb cell (ty, tx) is
    * (ty·H div E, tx·W div E), the [[frameOffsets]] mapping in 2-D;
    * gray = (R+G+B) div 3, all integer. */
  private[graft] def resizeBmpGray(docId: Long, payload: Array[Byte]): ThumbRow = {
    val (w, h, g) = grayGrid(payload)
    val e = ThumbEdge
    var t = 0; var sum = 0L; var mn = Long.MaxValue; var mx = Long.MinValue; var cks = 0L
    while (t < e * e) {
      val gray = g(t)
      sum += gray; if (gray < mn) mn = gray; if (gray > mx) mx = gray
      cks += (t + 1) * gray
      t += 1
    }
    ThumbRow(docId, w.toLong, h.toLong, sum / (e * e), mn, mx, cks)
  }

  /** Decode one BMP and nearest-neighbor-resize it to the [[ThumbEdge]]²
    * grayscale grid (row-major) — the shared first stage of the q96
    * thumbnail summary and the q128 perceptual hash. */
  private[graft] def grayGrid(payload: Array[Byte]): (Int, Int, Array[Long]) = {
    val (w, h) = MediaCodecs.bmpDims(payload)
    val vals = new Array[Int](w * h * 3)
    var i = 0
    MediaCodecs.decodeBmp(payload) { v => vals(i) = v; i += 1 }
    (w, h, grayGridOf(vals, w, h))
  }

  /** Nearest-neighbor [[ThumbEdge]]² grayscale resize of one decoded RGB
    * frame buffer — shared by the BMP path ([[grayGrid]]) and the
    * per-frame video path ([[videoSignature]]). */
  private[graft] def grayGridOf(vals: Array[Int], w: Int, h: Int): Array[Long] = {
    val e = ThumbEdge
    val g = new Array[Long](e * e)
    var t = 0
    while (t < e * e) {
      val ty = t / e; val tx = t % e
      val sy = ty * h / e; val sx = tx * w / e
      val p = (sy * w + sx) * 3
      g(t) = (vals(p) + vals(p + 1) + vals(p + 2)) / 3L
      t += 1
    }
    g
  }

  /** q96 — media RESIZE: every BMP document decoded and downsampled to a
    * fixed [[ThumbEdge]]² grayscale thumbnail inside the same typed
    * `mapPartitions` batch-kernel shape as [[extractFeatures]] — the
    * image-normalization step (fixed input geometry) a multimodal
    * training pipeline runs between decode and feature extraction. The
    * nearest-neighbor map is [[frameOffsets]]'s integer sampling in 2-D,
    * so resize and frame-sampling share one portability argument; the
    * DuckDB oracle re-derives the sampled grid from the synthetic pixel
    * generator exactly (integer div everywhere, no float filtering).
    *
    * Scale shape: per-row kernel work bounded by source geometry, output
    * a constant ThumbEdge²-fold summary per image; plan stays
    * scan → typed MapPartitions → sort, no shuffle before the gate. */
  def mediaThumbnails(spark: SparkSession, dir: String): DataFrame =
    decodeRows(mediaOf(spark, dir, "bmp"))((id, payload) =>
      Iterator.single(resizeBmpGray(id, payload)))
      .orderBy("doc_id")

  /** Persisted media table — the encode pass runs ONCE per corpus
    * content-fingerprint and lands as parquet; q36/q96 then decode
    * payloads READ from storage, which is both the real 100 TB shape
    * (media arrives as stored bytes, nobody re-synthesizes it per query)
    * and half the fixed CPU of the old synthesize-then-decode-per-run
    * plan. Built under the [[graft.sources.Artifacts]] contract; the
    * q36 oracle re-derives the expected features from the doc_id
    * formulas in closed form every verify run, so corrupted or stale
    * stored payloads fail the hash gate loudly — the artifact is
    * re-gated, never trusted. */
  private[graft] def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "media", 3)(synthesizeMedia(spark, dir))

  /** The stored media of one format: `bmp`, `wav` or `vid`. */
  private[graft] def mediaOf(spark: SparkSession, dir: String, format: String): DataFrame =
    mediaTable(spark, dir).where(col("meta.format") === format)

  /** End-to-end media pipeline over documents: real-format payloads
    * (encoded once, [[mediaTable]]) → parse → features, ordered for the
    * hash gate (q36). */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(mediaTable(spark, dir)).orderBy("doc_id")

  /** Max bit-Hamming distance for [[imageNearDup]] verdicts (of 64). */
  val ImgHammingMax = 6

  /** Typed aHash row: the 64-bit perceptual hash split into two
    * non-negative 32-bit halves so every downstream band/XOR/popcount —
    * on BOTH engines — runs on values with no sign bit to disagree
    * about (DuckDB range-checks BIGINT shifts; Spark wraps). `lo` holds
    * thumb cells 0–31 (bit t = cell t), `hi` cells 32–63. */
  case class AHashRow(doc_id: Long, hi: Long, lo: Long)

  /** Average-hash of one thumbnail grid: bit t set iff cell t is at or
    * above the grid mean — compared as `64·gray(t) >= Σ gray` so the
    * mean never rounds (the exact-integer analog of gray >= mean). */
  private[graft] def aHashOf(g: Array[Long]): (Long, Long) = {
    var sum = 0L; var t = 0
    while (t < g.length) { sum += g(t); t += 1 }
    var hi = 0L; var lo = 0L
    t = 0
    while (t < 64) {
      if (64L * g(t) >= sum) {
        if (t < 32) lo |= 1L << t else hi |= 1L << (t - 32)
      }
      t += 1
    }
    (hi, lo)
  }

  /** Per-image perceptual hashes: decode → 8×8 gray grid ([[grayGrid]],
    * q96's kernel) → [[aHashOf]], in the same typed mapPartitions batch
    * shape as [[extractFeatures]]. Map-side only. */
  private[graft] def imageAHashes(spark: SparkSession, dir: String): DataFrame =
    imageAHashesOf(mediaOf(spark, dir, "bmp"))

  /** The hash kernel over an arbitrary (doc_id, payload) frame — shared
    * by the corpus path, the q137 batch probe, and the streaming ingest
    * twin. */
  private[graft] def imageAHashesOf(media: DataFrame): DataFrame =
    decodeRows(media) { (id, payload) =>
      val (hi, lo) = aHashOf(grayGrid(payload)._3)
      Iterator.single(AHashRow(id, hi, lo))
    }

  /** Persisted corpus image-hash INDEX: one (hi, lo) → min doc_id row
    * per distinct perceptual hash over the corpus split's BMPs (batch
    * residue doc_id%10=9 held out, the q68 split) — the durable state
    * the incremental image dedup probes, built under the
    * [[graft.sources.Artifacts]] contract; at 100 TB you'd bucket it
    * by (hi, lo) for a shuffle-free probe join. */
  private[graft] def imageHashIndex(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "img_ahash", 5)(
      imageAHashesOf(mediaTable(spark, dir)
        .where(col("meta.format") === "bmp" && pmod(col("doc_id"), lit(10)) =!= 9))
        .groupBy("hi", "lo").agg(min("doc_id").as("dup_of")))

  /** q137 — INCREMENTAL image dedup: the crawl-increment batch
    * (doc_id%10=9, the q68 split at image level) hashed and probed
    * against the persisted corpus hash index — an arriving image whose
    * perceptual hash the corpus already holds is a dup of the earliest
    * such image, everything else is new. Exact-hash probing (Hamming-0)
    * is the image twin of q68's content-md5 probe; near-miss batches
    * escalate to q128's banded machinery offline. Batch docs never
    * index each other (q72's contract), which is exactly what makes the
    * streaming twin ([[graft.streaming.StreamingAnalytics
    * .imageDupVerdictsPerBatch]]) reproduce this table under ANY
    * micro-batching.
    *
    * Scale shape: hashing is map-side; the probe is one equi-join of
    * the batch against a hash-keyed index (bucketed at 100 TB →
    * shuffle-free); verdicts are one row per batch image. */
  def imageIncrementalDedup(spark: SparkSession, dir: String): DataFrame =
    imageIncrementalDedupOf(spark, dir,
      mediaTable(spark, dir)
        .where(col("meta.format") === "bmp" && pmod(col("doc_id"), lit(10)) === 9))

  /** [[imageIncrementalDedup]] over an arbitrary batch frame — the
    * per-micro-batch core of the streaming twin. */
  private[graft] def imageIncrementalDedupOf(spark: SparkSession, dir: String,
      batch: DataFrame): DataFrame =
    imageAHashesOf(batch)
      .join(imageHashIndex(spark, dir), Seq("hi", "lo"), "left")
      .select(col("doc_id"), col("hi"), col("lo"),
        when(col("dup_of").isNull, "new").otherwise("dup").as("status"),
        col("dup_of"))
      .orderBy("doc_id")

  /** q128 — PERCEPTUAL image near-dup: every BMP document is reduced to
    * a 64-bit aHash over its q96 thumbnail (decode → 8×8 gray grid →
    * mean-threshold bits), then the q31 banded-Hamming machinery finds
    * near-identical images: 4 bands of 16 bits, candidates share a band
    * (pigeonhole guarantees recall for distance ≤ 3; beyond that it is
    * LSH-style candidate generation, same contract as q31), buckets
    * capped at [[Dedup.MaxBucket]] smallest doc_ids with the overflow
    * observed, verified by exact XOR-popcount Hamming ≤
    * [[ImgHammingMax]]. This is image-level dedup for a multimodal
    * training corpus — re-encoded or re-scaled copies of one picture
    * collapse to the same hash even when their byte payloads differ
    * (the corpus's identical-content classes land at distance 0; the
    * spec drives few-bit-flip fixtures through the band recall).
    *
    * The DuckDB oracle re-derives the hash from the synthetic pixel
    * generator in closed form (the q96 pattern) and replays the same
    * banding, cap, and popcount — the gate covers decode → resize →
    * hash → band → verify end-to-end.
    *
    * Scale shape: hashing is map-side; the only data-sized shuffle is
    * the band groupBy (4 rows/image, the q31 bound); pair expansion is
    * O(MaxBucket²) per bucket; verify runs BEFORE the cross-band
    * distinct so only surviving near-pairs pay that shuffle. Never
    * all-pairs. */
  def imageNearDup(spark: SparkSession, dir: String): DataFrame =
    imageNearDupUnordered(spark, dir).orderBy("d1", "d2")

  /** [[imageNearDup]] without the presentation sort — the form
    * [[imageDupClusters]] composes (its first move is a re-shuffle, the
    * q30/q31 composition argument). */
  private def imageNearDupUnordered(spark: SparkSession, dir: String): DataFrame = {
    Diagnostics.install(spark)
    val banded = imageAHashes(spark, dir)
      .select(col("doc_id"), col("hi"), col("lo"), bands16("hi", "lo"))
    cappedBuckets(banded, Seq("band_idx", "band_val"),
        struct(col("doc_id"), col("hi"), col("lo")), "q128_image_buckets")
      .select(explode(expr(
        """flatten(transform(members, (x, i) ->
          |  transform(slice(members, i + 2, size(members)), y ->
          |    named_struct('d1', x.doc_id, 'hi1', x.hi, 'lo1', x.lo,
          |                 'd2', y.doc_id, 'hi2', y.hi, 'lo2', y.lo))))""".stripMargin)).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"),
        expr("CAST(bit_count(p.hi1 ^ p.hi2) + bit_count(p.lo1 ^ p.lo2) AS BIGINT)").as("hamming"))
      // verify + threshold BEFORE the cross-band dedup (a duplicate
      // candidate's hamming is identical in every band), q31's trick
      .where(col("hamming") <= ImgHammingMax)
      .distinct()
  }

  /** The four 16-bit bands of a 64-bit signature held as non-negative
    * 32-bit halves `hi`/`lo`, exploded as (band_idx, band_val). */
  private def bands16(hi: String, lo: String): Column =
    posexplode(array(expr(s"$hi div 65536"), expr(s"$hi % 65536"),
      expr(s"$lo div 65536"), expr(s"$lo % 65536"))).as(Seq("band_idx", "band_val"))

  /** Band buckets over `keys`: the sorted `member` values, kept to the
    * [[Dedup.MaxBucket]] smallest as `members`, the overflow observed as
    * `observed`. Pair generation drops singleton buckets before the cap;
    * an index build keeps them. */
  private def cappedBuckets(banded: DataFrame, keys: Seq[String], member: Column,
      observed: String, dropSingletons: Boolean = true): DataFrame = {
    val all = banded.groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(member)).as("all_members"))
    (if (dropSingletons) all.where(size(col("all_members")) >= 2) else all)
      .withColumn("members", slice(col("all_members"), 1, Dedup.MaxBucket))
      .observe(observed,
        sum(greatest(size(col("all_members")) - Dedup.MaxBucket, lit(0))).as("overflow_members_dropped"))
  }

  /** Every (d1, d2) pair within a bucket of doc_ids, d1 < d2, distinct
    * across buckets. */
  private def bucketPairs(buckets: DataFrame): DataFrame =
    buckets
      .select(explode(expr(
        """flatten(transform(members, (x, i) ->
          |  transform(slice(members, i + 2, size(members)), y ->
          |    named_struct('d1', x, 'd2', y))))""".stripMargin)).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .distinct()

  /** Low-motion threshold for [[videoSignatures]]: mean consecutive
    * sampled-frame Hamming (×100) below this flags a static video. */
  val LowMotionX100 = 800L

  /** Typed per-video signature row. ham_* are None for single-sampled-
    * frame streams (no transitions to measure). */
  case class VideoSigRow(doc_id: Long, n_frames: Long, n_sampled: Long,
                         cks_hi: Long, cks_lo: Long,
                         ham_min: Option[Long], ham_max: Option[Long],
                         ham_mean_x100: Option[Long], low_motion: Boolean)

  /** Shared decode for the video kernels: total frame count + one aHash
    * per sampled frame, in temporal order (real PPM byte parsing via
    * [[MediaCodecs.decodePpmStreamSampled]]), `k` frames sampled —
    * 5 is the q36 sampling, `Int.MaxValue` hashes EVERY frame (the q147
    * dense representation; a 100 TB deployment samples at a stride
    * instead). */
  private def videoFrameHashSeq(payload: Array[Byte], k: Int): (Long, Array[(Long, Long)]) = {
    val (w, h) = MediaCodecs.ppmDims(payload)
    val frameBytes = w * h * 3
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    var cur: Array[Int] = null
    var idx = 0
    // frame count from the SAME validated header walk as the pixel pass
    // (size arithmetic broke on fps-tagged fixture streams, whose
    // headers are non-uniform; a second ppmFrameCount walk was the r17
    // redundant-scan advisory)
    val (_, nFrames) = MediaCodecs.decodePpmStreamSampledCounted(payload, k) { v =>
      if (idx % frameBytes == 0) { cur = new Array[Int](frameBytes); frames += cur }
      cur(idx % frameBytes) = v
      idx += 1
    }
    (nFrames.toLong, frames.map(vals => aHashOf(grayGridOf(vals, w, h))).toArray)
  }

  /** Decode a PPM stream's sampled frames (real byte parsing), resize
    * each to the [[ThumbEdge]]² gray grid, aHash per frame, and fold
    * into the temporal signature: order-weighted hash checksums plus
    * consecutive-frame Hamming statistics. */
  private[graft] def videoSignature(docId: Long, payload: Array[Byte]): VideoSigRow = {
    val (nFrames, hashes) = videoFrameHashSeq(payload, 5)
    var cksHi = 0L; var cksLo = 0L
    hashes.zipWithIndex.foreach { case ((hi, lo), i) =>
      cksHi += (i + 1) * hi; cksLo += (i + 1) * lo
    }
    val hams = hashes.sliding(2).collect { case Array((h1, l1), (h2, l2)) =>
      (java.lang.Long.bitCount(h1 ^ h2) + java.lang.Long.bitCount(l1 ^ l2)).toLong
    }.toArray
    val (mn, mx, meanX100) =
      if (hams.isEmpty) (Option.empty[Long], Option.empty[Long], Option.empty[Long])
      else (Some(hams.min), Some(hams.max), Some(100L * hams.sum / hams.length))
    VideoSigRow(docId, nFrames, hashes.length.toLong, cksHi, cksLo,
      mn, mx, meanX100, meanX100.map(_ < LowMotionX100).getOrElse(true))
  }

  /** q134 — video TEMPORAL-ACTIVITY signatures: every video document's
    * sampled frames ([[frameOffsets]], the q36 sampling) are each
    * reduced to the q128 perceptual aHash, then folded into a per-video
    * signature — order-weighted hash checksums (the q36 gate pattern,
    * so frame order and content are both pinned) and consecutive-frame
    * Hamming statistics. Mean inter-frame Hamming is the cheap temporal
    * ACTIVITY score a video curation pipeline cuts on: a near-zero mean
    * is a static/slideshow stream (low training value per byte), and a
    * single-frame stream is static by definition (`low_motion`, with
    * NULL Hamming stats — nothing to measure). The DuckDB oracle
    * re-derives every sampled frame's hash from the pixel generator in
    * closed form.
    *
    * Scale shape: one typed mapPartitions decode kernel (map-side, the
    * q36 shape); output is one narrow row per video; no shuffle before
    * the contract sort. */
  def videoSignatures(spark: SparkSession, dir: String): DataFrame =
    decodeRows(mediaOf(spark, dir, "vid"))((id, payload) =>
      Iterator.single(videoSignature(id, payload)))
      .orderBy("doc_id")

  /** Typed per-sampled-frame hash row — the video near-dup path's unit
    * of comparison (`si` = sampled-frame position, `ns` = sampled count). */
  case class VideoFrameRow(doc_id: Long, n_frames: Long, ns: Long, si: Int,
                           hi: Long, lo: Long)

  /** One row per (video, sampled frame) of an arbitrary
    * (doc_id, payload) frame, with the frame's q128 aHash — the decode
    * kernel [[videoSignatures]] uses at `k` = 5, exploded instead of
    * folded (map-side, ≤ `k` rows per video). */
  private[graft] def videoFrameTableOf(media: DataFrame, k: Int): DataFrame =
    decodeRows(media) { (id, payload) =>
      val (nf, hs) = videoFrameHashSeq(payload, k)
      hs.iterator.zipWithIndex.map { case ((hi, lo), i) =>
        VideoFrameRow(id, nf, hs.length.toLong, i, hi, lo)
      }
    }

  /** The corpus videos' q36-sampled frame table. */
  private[graft] def videoFrameTable(spark: SparkSession, dir: String): DataFrame =
    videoFrameTableOf(mediaOf(spark, dir, "vid"), 5)

  /** q139 — VIDEO near-dup verdicts: the q128→q133 story completed for
    * the temporal modality. Candidate generation bands each SAMPLED
    * FRAME's aHash exactly like q128 (4 × 16-bit bands), but keyed by
    * (frame position, band): two videos become candidates when they
    * agree on a 16-bit band AT THE SAME TEMPORAL POSITION — pigeonhole
    * gives full recall for any aligned frame within 3 flipped bits, and
    * a re-encoded copy of a whole video collides on every band of every
    * frame. Buckets are capped at [[Dedup.MaxBucket]] smallest doc_ids
    * with overflow observed (`q139_video_buckets`), the q29/q128 cap
    * contract. Verification is the aligned ENVELOPE distance: both
    * videos must carry the same sampled-frame count, every position must
    * align, and every aligned frame pair must sit within
    * [[ImgHammingMax]] bits (the per-frame max is the binding cut — a
    * mean-only cut would let one ruined frame hide inside an otherwise
    * identical stream). Emits per-pair totals a curation pass ranks on.
    *
    * The corpus's generator-periodic exact classes (Δ doc_id = 3840:
    * same dims + frame count + pixel stream) exist only above the gate
    * SFs, so gated output is empty there and real pairs appear at
    * sf0.1/8× — the spec drives crafted re-encode/bit-flip fixtures
    * through [[videoNearDupOf]] instead (the q128 fixture pattern).
    *
    * Scale shape: hashing is map-side; the only data-sized shuffle is
    * the (si, band) groupBy (≤ 20 rows/video); pair expansion is capped
    * per bucket; the verify join touches only candidate pairs' frame
    * rows (≤ 5 per side). Never all-pairs. */
  def videoNearDup(spark: SparkSession, dir: String): DataFrame =
    videoNearDupUnordered(spark, dir).orderBy("d1", "d2")

  private def videoNearDupUnordered(spark: SparkSession, dir: String): DataFrame = {
    Diagnostics.install(spark)
    videoNearDupOf(videoFrameTable(spark, dir))
  }

  /** [[videoNearDup]] over an arbitrary frame-hash table — the unit the
    * spec drives crafted fixtures through. */
  private[graft] def videoNearDupOf(fh: DataFrame): DataFrame = {
    val banded = fh.select(col("doc_id"), col("si"), bands16("hi", "lo"))
    val cand = bucketPairs(cappedBuckets(banded, Seq("si", "band_idx", "band_val"),
      col("doc_id"), "q139_video_buckets"))
    val a = fh.select(col("doc_id").as("d1"), col("ns").as("ns1"),
      col("si"), col("hi").as("hi1"), col("lo").as("lo1"))
    val b = fh.select(col("doc_id").as("d2"), col("ns").as("ns2"),
      col("si"), col("hi").as("hi2"), col("lo").as("lo2"))
    cand.join(a, Seq("d1")).join(b, Seq("d2", "si"))
      .select(col("d1"), col("d2"), col("ns1"), col("ns2"),
        expr("CAST(bit_count(hi1 ^ hi2) + bit_count(lo1 ^ lo2) AS BIGINT)").as("ham"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_aligned"), max("ns1").as("ns1"), max("ns2").as("ns2"),
        sum(col("ham")).as("ham_total"), max(col("ham")).as("ham_max"))
      .where(col("ns1") === col("ns2") && col("n_aligned") === col("ns1")
        && col("ham_max") <= lit(ImgHammingMax))
      .select(col("d1"), col("d2"), col("n_aligned").as("n_frames_aligned"),
        col("ham_total"), col("ham_max"))
  }

  // --- prefix containment (q147/q148, q173/q174, q176/q177, q178/q179) ---

  /** Crawl-increment split residue for the VIDEO incremental path.
    * q68's convention (`doc_id % 10 = 9`) would be vacuous here: the
    * generator's only video exact classes sit at Δ doc_id = 3840 ≡ 0
    * (mod 10), so batch and corpus copies of one video always land on
    * the SAME side of a mod-10 split and the probe could never observe
    * a dup at any SF. Mod 7 (3840 ≡ 4) puts real cross-split copies in
    * the sf0.1 corpus — a split you can actually watch work. */
  val VideoBatchMod = 7
  val VideoBatchResidue = 1

  /** The unit of a dense signature sequence: a table has one row per
    * (doc_id, `idx`) with the sequence length `count` and the unit's
    * 64-bit signature as `hi`/`lo`; verdicts count in `n_<name>_*`; a
    * normalized table also carries the parsed header `rate`. The unit
    * fixes its media `format`, its crawl-increment split (doc_id %
    * `batchMod` = `batchResidue`) and the observe name of its capped
    * containment buckets. */
  private[graft] final case class SeqUnit(idx: String, count: String, name: String,
      rate: String, format: String, batchMod: Int, batchResidue: Int, observed: String)

  /** Video frames (q144's split). */
  private[graft] val Frames = SeqUnit("si", "ns", "frames", "fps", "vid",
    VideoBatchMod, VideoBatchResidue, "q147_prefix_buckets")
  /** Audio windows (q68's split, the audio-family convention). */
  private[graft] val Windows = SeqUnit("wi", "nw", "windows", "sample_rate", "wav",
    10, 9, "q173_prefix_buckets")

  /** One containment chain: its unit, the decode of a (doc_id, payload)
    * frame into the unit's dense table, whether that table is
    * normalized (and so carries the header rate), and its two
    * artifacts — the corpus table `table` (fingerprint key `tableKey`)
    * and the frozen index `index` (key `indexKey`, its band fold
    * observed as `q<indexKey>_index_bands`). */
  private final class SeqChain(val unit: SeqUnit, val table: String, val tableKey: Int,
      val index: String, val indexKey: Int, val normalized: Boolean,
      val decode: DataFrame => DataFrame)

  private val VideoRaw = new SeqChain(Frames, "vid_frames", 147, "vid_prefix_idx", 148,
    false, videoFrameTableOf(_, Int.MaxValue))
  private val AudioRaw = new SeqChain(Windows, "aud_windows", 173, "aud_prefix_idx", 174,
    false, audioWindowTableOf)
  private val AudioNorm = new SeqChain(Windows, "aud_norm_windows", 176, "aud_norm_prefix_idx",
    177, true, audioNormWindowTableOf)
  private val VideoNorm = new SeqChain(Frames, "vid_norm_frames", 178, "vid_norm_prefix_idx",
    179, true, videoNormFrameTableOf)

  /** PREFIX CONTAINMENT over a dense signature sequence — the q135
    * asymmetric-containment idea at sequence level. It catches the
    * truncated or clipped copy (one sequence is a prefix of another)
    * that whole-sequence dedup cannot: q139's equal-count alignment and
    * q141's whole-track envelope both reject or renormalize it.
    *
    * Candidates share a 16-bit band of their unit-0 signature (a prefix
    * copy shares unit 0 exactly, so pigeonhole gives full recall to 3
    * flipped bits); buckets keep the [[Dedup.MaxBucket]] smallest
    * doc_ids with the overflow observed. The verify joins the
    * overlapping prefix unit by unit and requires every aligned pair
    * within [[ImgHammingMax]] bits (a per-unit max, so one ruined unit
    * rejects the pair). Verdict: `d1_in_d2` / `d2_in_d1` by which side
    * is shorter, `mutual` at equal length.
    *
    * Each chain persists its decoded corpus table once per fingerprint.
    * Its INCREMENTAL form probes a crawl increment against a FROZEN
    * corpus index instead of re-pairing the corpus: `bands` holds the
    * corpus split's unit-0 bands capped at build time (a batch never
    * re-prices corpus band occupancy), `frames`/`windows` its dense
    * table; the bands path is written last, so its _SUCCESS certifies
    * both. Batch sequences never pair each other (q72's contract), so
    * the streaming twins reproduce the batch tables under any
    * micro-batching. A normalized chain maps every payload to the
    * canonical rate before signing and adds both sides' parsed header
    * rates to the verdicts.
    *
    * Banding shuffles 4 rows per sequence; the verify touches only the
    * candidate pairs' rows, bounded by the shorter side. Never
    * all-pairs. */
  private[graft] def prefixContainment(u: SeqUnit, t: DataFrame): DataFrame =
    prefixVerify(u, bucketPairs(cappedBuckets(unit0Bands(u, t, col("doc_id")),
      Seq("band_idx", "band_val"), col("doc_id"), u.observed)), t, t)

  /** The unit-0 rows of a dense table, band-exploded, keyed by `id`. */
  private def unit0Bands(u: SeqUnit, t: DataFrame, id: Column): DataFrame =
    t.where(col(u.idx) === 0).select(id, bands16("hi", "lo"))

  /** Joins the overlapping prefix of every candidate pair, cuts at the
    * per-unit [[ImgHammingMax]] and emits the direction verdict. The
    * aligned-count check is an invariant (dense 0..count-1 indices),
    * not a cut. */
  private def prefixVerify(u: SeqUnit, cand: DataFrame, side1: DataFrame,
      side2: DataFrame): DataFrame = {
    val (c1, c2) = (u.count + "1", u.count + "2")
    val (n1, n2, na) = (s"n_${u.name}_1", s"n_${u.name}_2", s"n_${u.name}_aligned")
    val a = side1.select(col("doc_id").as("d1"), col(u.count).as(c1),
      col(u.idx), col("hi").as("hi1"), col("lo").as("lo1"))
    val b = side2.select(col("doc_id").as("d2"), col(u.count).as(c2),
      col(u.idx), col("hi").as("hi2"), col("lo").as("lo2"))
    cand.join(a, Seq("d1")).join(b, Seq("d2", u.idx))
      .select(col("d1"), col("d2"), col(c1), col(c2),
        expr("CAST(bit_count(hi1 ^ hi2) + bit_count(lo1 ^ lo2) AS BIGINT)").as("ham"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as(na), max(c1).as(n1), max(c2).as(n2),
        sum(col("ham")).as("ham_total"), max(col("ham")).as("ham_max"))
      .where(col(na) === least(col(n1), col(n2)) && col("ham_max") <= lit(ImgHammingMax))
      .select(col("d1"), col("d2"), col(n1), col(n2), col(na), col("ham_total"), col("ham_max"),
        when(col(n1) === col(n2), "mutual")
          .when(col(n1) < col(n2), "d1_in_d2")
          .otherwise("d2_in_d1").as("relation"))
      .orderBy("d1", "d2")
  }

  /** Both sides' parsed header rates joined onto a normalized chain's
    * verdicts. Each side's unit-0 rows are its rate projection: the rate
    * is constant within a sequence, so no groupBy, and a sequence with
    * no rows has no verdicts either. */
  private def withRates(u: SeqUnit, verdicts: DataFrame, side1: DataFrame,
      side2: DataFrame): DataFrame = {
    def rates(t: DataFrame, i: Int) =
      t.where(col(u.idx) === 0).select(col("doc_id").as(s"d$i"), col(u.rate).as(s"${u.rate}_$i"))
    verdicts.join(rates(side1, 1), Seq("d1")).join(rates(side2, 2), Seq("d2"))
      .select(Seq("d1", "d2", s"${u.rate}_1", s"${u.rate}_2", s"n_${u.name}_1",
        s"n_${u.name}_2", s"n_${u.name}_aligned", "ham_total", "ham_max", "relation").map(col): _*)
      .orderBy("d1", "d2")
  }

  /** A chain's persisted corpus table: every stored payload of the
    * unit's format decoded once per fingerprint. The oracles re-derive
    * every signature from the generator each verify run, so the
    * artifact is re-gated, never trusted. */
  private def prefixTable(spark: SparkSession, c: SeqChain, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, c.table, c.tableKey)(
      c.decode(mediaOf(spark, dir, c.unit.format)))

  /** The whole-corpus verdicts of a chain. */
  private def corpusContainment(spark: SparkSession, c: SeqChain, dir: String): DataFrame = {
    Diagnostics.install(spark)
    val t = prefixTable(spark, c, dir)
    val verdicts = prefixContainment(c.unit, t)
    if (c.normalized) withRates(c.unit, verdicts, t, t) else verdicts
  }

  /** A chain's frozen index over the corpus split: (`bands`, the dense
    * corpus table), built once per fingerprint. */
  private def prefixIndex(spark: SparkSession, c: SeqChain, dir: String): (DataFrame, DataFrame) = {
    val base = Artifacts.path(spark, dir, c.index, c.indexKey)
    val (bPath, tPath) = (base + "/bands", base + "/" + c.unit.name)
    if (!Artifacts.isBuilt(spark, bPath)) {
      val corpus = prefixTable(spark, c, dir)
        .where(pmod(col("doc_id"), lit(c.unit.batchMod)) =!= c.unit.batchResidue)
      corpus.write.mode("overwrite").parquet(tPath)
      cappedBuckets(unit0Bands(c.unit, corpus, col("doc_id")), Seq("band_idx", "band_val"),
          col("doc_id"), s"q${c.indexKey}_index_bands", dropSingletons = false)
        .select(col("band_idx"), col("band_val"), explode(col("members")).as("doc_id"))
        .write.mode("overwrite").parquet(bPath)
    }
    (Tables.parquet(spark, bPath), Tables.parquet(spark, tPath))
  }

  /** The verdicts of an arbitrary (doc_id, payload) batch against a
    * chain's frozen index, `d1` the batch sequence and `d2` its corpus
    * relative. Only the batch is decoded. */
  private def prefixIncremental(spark: SparkSession, c: SeqChain, dir: String,
      batch: DataFrame): DataFrame = {
    val (bands, corpus) = prefixIndex(spark, c, dir)
    // pinned: the batch table feeds the candidate probe, the verify side
    // and a normalized chain's rate projection; unpinned, the decode
    // mapPartitions re-executed once per consumer
    val bt = c.decode(batch).localCheckpoint(true)
    val cand = unit0Bands(c.unit, bt, col("doc_id").as("d1"))
      .join(bands, Seq("band_idx", "band_val"))
      .select(col("d1"), col("doc_id").as("d2"))
      .distinct()
    val verdicts = prefixVerify(c.unit, cand, bt, corpus)
    if (c.normalized) withRates(c.unit, verdicts, bt, corpus) else verdicts
  }

  /** The crawl-increment batch of a unit's stored media. */
  private def increment(spark: SparkSession, u: SeqUnit, dir: String): DataFrame =
    mediaTable(spark, dir).where(col("meta.format") === u.format &&
      pmod(col("doc_id"), lit(u.batchMod)) === u.batchResidue)

  /** q147 — [[prefixContainment]] over raw video frames. */
  def videoPrefixContainment(spark: SparkSession, dir: String): DataFrame =
    corpusContainment(spark, VideoRaw, dir)

  /** q148 — q147 for a video crawl increment, against the raw frame index. */
  def videoPrefixIncremental(spark: SparkSession, dir: String): DataFrame =
    videoPrefixIncrementalOf(spark, dir, increment(spark, Frames, dir))

  private[graft] def videoPrefixIncrementalOf(spark: SparkSession, dir: String,
      batch: DataFrame): DataFrame =
    prefixIncremental(spark, VideoRaw, dir, batch)

  /** q173 — [[prefixContainment]] over raw audio windows. */
  def audioPrefixContainment(spark: SparkSession, dir: String): DataFrame =
    corpusContainment(spark, AudioRaw, dir)

  /** q174 — q173 for an audio crawl increment, against the raw window index. */
  def audioPrefixIncremental(spark: SparkSession, dir: String): DataFrame =
    audioPrefixIncrementalOf(spark, dir, increment(spark, Windows, dir))

  private[graft] def audioPrefixIncrementalOf(spark: SparkSession, dir: String,
      batch: DataFrame): DataFrame =
    prefixIncremental(spark, AudioRaw, dir, batch)

  /** q176 — [[prefixContainment]] over rate-normalized audio windows. */
  def audioPrefixContainmentNormalized(spark: SparkSession, dir: String): DataFrame =
    corpusContainment(spark, AudioNorm, dir)

  /** q177 — q176 for an audio crawl increment, against the normalized window index. */
  def audioPrefixIncrementalNormalized(spark: SparkSession, dir: String): DataFrame =
    audioPrefixIncrementalNormalizedOf(spark, dir, increment(spark, Windows, dir))

  private[graft] def audioPrefixIncrementalNormalizedOf(spark: SparkSession, dir: String,
      batch: DataFrame): DataFrame =
    prefixIncremental(spark, AudioNorm, dir, batch)

  /** q178 — [[prefixContainment]] over time-normalized video frames. */
  def videoPrefixContainmentTimeNormalized(spark: SparkSession, dir: String): DataFrame =
    corpusContainment(spark, VideoNorm, dir)

  /** q179 — q178 for a video crawl increment, against the normalized frame index. */
  def videoPrefixIncrementalTimeNormalized(spark: SparkSession, dir: String): DataFrame =
    videoPrefixIncrementalTimeNormalizedOf(spark, dir, increment(spark, Frames, dir))

  private[graft] def videoPrefixIncrementalTimeNormalizedOf(spark: SparkSession, dir: String,
      batch: DataFrame): DataFrame =
    prefixIncremental(spark, VideoNorm, dir, batch)

  // --- the per-unit kernels of the prefix chains ---

  /** Samples per FIXED-DURATION audio prefix window: 64 cells ×
    * 4 samples, hashed with the one threshold-signature kernel
    * ([[aHashOf]], shared with images/video/q141). Fixed duration, not
    * equal-mass: q141's equal-mass envelope is resample-invariant but
    * WHOLE-TRACK — a clipped copy renormalizes every window boundary and
    * becomes invisible to it. Fixed windows keep the shared prefix of a
    * clip and its source aligned window-for-window (q147's frame-prefix
    * idea at sample level). A clip that was ALSO resampled needs the
    * q176 rate normalization first. Only FULL windows are signed (the
    * trailing partial window carries different mass for clip and source
    * and would poison the last comparison). */
  val AudioPrefixWindowSamples = 256

  /** Typed per-window audio prefix row: `nw` = full windows in the
    * track, `wi` = this window's index, hi/lo the window's 64-bit
    * threshold signature. */
  case class AudioWinRow(doc_id: Long, n_samples: Long, nw: Long, wi: Long,
                         hi: Long, lo: Long)

  /** Decode one WAV through the real RIFF kernel and sign each full
    * [[AudioPrefixWindowSamples]]-sample window: 64 cell energies, bit t
    * set iff 64·e(t) ≥ window total (the [[aHashOf]] rule). */
  private[graft] def audioPrefixWindowsOf(docId: Long, payload: Array[Byte])
      : Iterator[AudioWinRow] = {
    val samples = scala.collection.mutable.ArrayBuffer.empty[Int]
    MediaCodecs.decodeWav(payload)(s => samples += math.abs(s.toInt))
    val n = samples.length
    val nw = n / AudioPrefixWindowSamples
    signPrefixWindows(samples).map { case (w, hi, lo) =>
      AudioWinRow(docId, n.toLong, nw.toLong, w.toLong, hi, lo)
    }
  }

  /** Sign every full [[AudioPrefixWindowSamples]]-sample window of an
    * |PCM| sequence — the q173 kernel body, shared with the q176
    * rate-normalized variant. */
  private def signPrefixWindows(samples: scala.collection.IndexedSeq[Int])
      : Iterator[(Int, Long, Long)] = {
    val nw = samples.length / AudioPrefixWindowSamples
    val cell = AudioPrefixWindowSamples / AudioWindows
    (0 until nw).iterator.map { w =>
      val e = new Array[Long](AudioWindows)
      var i = 0
      while (i < AudioPrefixWindowSamples) {
        e(i / cell) += samples(w * AudioPrefixWindowSamples + i).toLong
        i += 1
      }
      val (hi, lo) = aHashOf(e)
      (w, hi, lo)
    }
  }

  /** Dense window-signature table for an arbitrary (doc_id, payload)
    * set — typed mapPartitions decode, map-side, one row per full
    * window. */
  private[graft] def audioWindowTableOf(media: DataFrame): DataFrame =
    decodeRows(media)(audioPrefixWindowsOf)

  /** Canonical sample rate the normalization stage maps every track to
    * — the generator's encode rate. */
  val AudioCanonicalRate = 8000

  /** [[AudioWinRow]] plus the track's parsed header rate; `n_samples`
    * and window indices count POST-normalization samples. */
  case class AudioWinNormRow(doc_id: Long, sample_rate: Int, n_samples: Long,
                             nw: Long, wi: Long, hi: Long, lo: Long)

  /** The q176 kernel: decode, read the header rate ([[MediaCodecs
    * .wavSampleRate]]), NEAREST-NEIGHBOR resample to
    * [[AudioCanonicalRate]] (out(i) = in(⌊i·rate/canon⌋), length
    * ⌊n·canon/rate⌋), then window-sign with the q173 kernel. A copy that
    * is BOTH resampled and clipped evades q141 (the clip breaks the
    * whole-track equal-mass envelope) and q173 (the rate breaks
    * sample-index window alignment); mapping every track to the
    * canonical rate first lands the clip back on its source's windows
    * (spec-proven flip through a real 16 kHz WAV fixture). At the
    * canonical rate the map is the identity (⌊i·8000/8000⌋ = i), so on
    * the generator corpus this table equals [[audioPrefixWindowsOf]]'s —
    * the closed form the q176 oracle replays. NN instead of a polyphase
    * filter keeps the stage integer-exact (oracle-replayable); the
    * CONTRACT — header-driven canonical-rate mapping before window
    * signing — is what a production resampler slots into. */
  private[graft] def audioPrefixWindowsNormalizedOf(docId: Long, payload: Array[Byte])
      : Iterator[AudioWinNormRow] = {
    val raw = scala.collection.mutable.ArrayBuffer.empty[Int]
    MediaCodecs.decodeWav(payload)(s => raw += math.abs(s.toInt))
    val rate = MediaCodecs.wavSampleRate(payload)
    val samples: scala.collection.IndexedSeq[Int] =
      if (rate == AudioCanonicalRate) raw
      else {
        val m = (raw.length.toLong * AudioCanonicalRate / rate).toInt
        (0 until m).map(i => raw((i.toLong * rate / AudioCanonicalRate).toInt))
      }
    val n = samples.length
    val nw = n / AudioPrefixWindowSamples
    signPrefixWindows(samples).map { case (w, hi, lo) =>
      AudioWinNormRow(docId, rate, n.toLong, nw.toLong, w.toLong, hi, lo)
    }
  }

  /** Rate-normalized window-signature table for an arbitrary
    * (doc_id, payload) set — map-side decode + normalize + sign. */
  private[graft] def audioNormWindowTableOf(media: DataFrame): DataFrame =
    decodeRows(media)(audioPrefixWindowsNormalizedOf)

  /** Canonical video frame rate the time-normalization stage maps every
    * stream to — the generator's (untagged) encode rate. */
  val VideoCanonicalFps = 24

  /** [[VideoFrameRow]] plus the stream's parsed time-base tag; `ns`
    * and `si` count POST-normalization frames. */
  case class VideoNormFrameRow(doc_id: Long, fps: Int, n_frames: Long, ns: Long,
                               si: Int, hi: Long, lo: Long)

  /** The q178 kernel: decode every frame's aHash, read the header
    * time-base ([[MediaCodecs.ppmFrameRate]]), NEAREST-NEIGHBOR
    * re-time to [[VideoCanonicalFps]] (out(t) = in(⌊t·fps/canon⌋),
    * length ⌊n·canon/fps⌋) — sampling at canonical TIMESTAMPS instead
    * of integer frame positions. A re-timed re-encode (frame rate
    * changed) shifts every integer-position frame and evades BOTH
    * q139's aligned-envelope verify and q147's prefix containment;
    * mapping every stream to the canonical time base first lands the
    * copy back on its source's frames (spec-proven flip through the
    * real PPM kernel with a 48 fps frame-doubled fixture). At the
    * canonical rate the map is the identity (⌊t·24/24⌋ = t), so on the
    * untagged generator corpus this table equals the dense raw table's —
    * the closed form the q178 oracle replays. NN re-timing keeps the
    * stage integer-exact (oracle-replayable); the CONTRACT —
    * header-driven canonical-time-base sampling before frame hashing —
    * is what a production frame-interpolating retimer slots into.
    *
    * A tagged stream whose canonical duration rounds below one frame
    * (fps > n·[[VideoCanonicalFps]], reachable only via crafted
    * payloads under the [[MediaCodecs.MaxPpmFps]] bound) emits ZERO
    * rows: sub-one-frame canonical content has nothing to sign, exactly
    * like an audio track shorter than one full
    * [[AudioPrefixWindowSamples]] window (zero rows from
    * [[audioPrefixWindowsNormalizedOf]]); the stream then has no
    * verdicts and no rate-projection row, consistently. */
  private[graft] def videoFrameHashSeqNormalized(docId: Long, payload: Array[Byte])
      : Iterator[VideoNormFrameRow] = {
    val (nf, hs) = videoFrameHashSeq(payload, Int.MaxValue)
    val fps = MediaCodecs.ppmFrameRate(payload, VideoCanonicalFps)
    val norm: Array[(Long, Long)] =
      if (fps == VideoCanonicalFps) hs
      else {
        val m = (hs.length.toLong * VideoCanonicalFps / fps).toInt
        Array.tabulate(m)(t => hs((t.toLong * fps / VideoCanonicalFps).toInt))
      }
    norm.iterator.zipWithIndex.map { case ((hi, lo), i) =>
      VideoNormFrameRow(docId, fps, nf, norm.length.toLong, i, hi, lo)
    }
  }

  /** Time-normalized dense frame-hash table for an arbitrary
    * (doc_id, payload) set — map-side decode + re-time + hash. */
  private[graft] def videoNormFrameTableOf(media: DataFrame): DataFrame =
    decodeRows(media)(videoFrameHashSeqNormalized)

  /** Typed per-video signature-key row for the incremental path. */
  case class VideoKeyRow(doc_id: Long, sig_key: String)

  /** Per-video EXACT perceptual key: the ordered sampled-frame aHash
    * sequence (plus its length) rendered canonically as
    * `"<ns>|<hi>:<lo>|<hi>:<lo>|…"`. Two videos share the key iff every
    * sampled frame's perceptual hash matches at the same temporal
    * position — the Hamming-0 point of q139's aligned-envelope verify,
    * and the video twin of q137's exact (hi, lo) image probe. String
    * form so the DuckDB oracle reproduces it with one ordered
    * string_agg. */
  private[graft] def videoSigKeysOf(fh: DataFrame): DataFrame =
    fh.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("si"), col("hi"), col("lo"))).as("fr"))
      .select(col("doc_id"),
        expr("""concat_ws('|', cast(size(fr) AS STRING),
                |  concat_ws('|', transform(array_sort(fr),
                |    x -> concat(cast(x.hi AS STRING), ':', cast(x.lo AS STRING)))))""".stripMargin)
          .as("sig_key"))

  /** Persisted corpus video signature-key INDEX: sig_key → min doc_id
    * over the corpus split's videos — the durable state the incremental
    * video dedup probes (q137's index contract at video level). */
  private[graft] def videoSigIndex(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "vid_sig_idx", 144)(
      videoSigKeysOf(videoFrameTable(spark, dir)
          .where(pmod(col("doc_id"), lit(VideoBatchMod)) =!= VideoBatchResidue))
        .groupBy("sig_key").agg(min("doc_id").as("dup_of")))

  /** q144 — INCREMENTAL video dedup: the crawl-increment batch's videos
    * are decoded, per-sampled-frame hashed, folded to their exact
    * perceptual signature key ([[videoSigKeysOf]]) and probed against
    * the persisted corpus key index — an arriving video whose full
    * sampled-frame hash sequence the corpus already holds is a dup of
    * the earliest such video, everything else is new. Completes the
    * q137 (image) / q143 (text containment) incremental story for the
    * temporal modality; near-miss batches escalate to q139's banded
    * machinery offline. Batch videos never index each other (q72's
    * contract), so the streaming twin
    * ([[graft.streaming.StreamingAnalytics.videoDupVerdictsPerBatch]])
    * reproduces this table under ANY micro-batching.
    *
    * Scale shape: decode + hash + key fold are map-side per video; the
    * probe is one equi-join of the batch against a key-keyed index
    * (bucketed at 100 TB → shuffle-free); one verdict row per batch
    * video. */
  def videoIncrementalDedup(spark: SparkSession, dir: String): DataFrame =
    videoIncrementalDedupOf(spark, dir, increment(spark, Frames, dir))

  /** [[videoIncrementalDedup]] over an arbitrary (doc_id, payload)
    * batch — the per-micro-batch core of the streaming twin. */
  private[graft] def videoIncrementalDedupOf(spark: SparkSession, dir: String,
      batch: DataFrame): DataFrame =
    videoSigKeysOf(videoFrameTableOf(batch, 5))
      .join(videoSigIndex(spark, dir), Seq("sig_key"), "left")
      .select(col("doc_id"), col("sig_key"),
        when(col("dup_of").isNull, "new").otherwise("dup").as("status"),
        col("dup_of"))
      .orderBy("doc_id")

  /** Persisted corpus audio envelope-hash INDEX: (sig_hi, sig_lo) → min
    * doc_id over the corpus split's tracks (q68's doc_id % 10 = 9 batch
    * held out) — the durable state the incremental audio dedup probes.
    * The key is q138's 64-window equal-mass envelope hash, so the probe
    * is RESAMPLE-INVARIANT: a re-encoded or upsampled copy of one
    * recording lands on the identical key even though its byte payload
    * and sample count differ (the case q68's content digest can never
    * catch — spec-pinned through the real WAV kernel). */
  private[graft] def audioSigIndex(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "aud_sig_idx", 145)(
      audioSigTableOf(mediaTable(spark, dir)
          .where(col("meta.format") === "wav" && pmod(col("doc_id"), lit(10)) =!= 9))
        .groupBy("sig_hi", "sig_lo").agg(min("doc_id").as("dup_of")))

  /** q145 — INCREMENTAL audio dedup: the crawl-increment batch's tracks
    * (doc_id % 10 = 9, the q68 split) decoded, envelope-hashed and
    * probed against the persisted corpus envelope index — exact-key
    * probing at the Hamming-0 point of q141's banded verify, the audio
    * member of the q137/q143/q144 incremental family. Near-miss batches
    * escalate to q141's banded machinery offline. Batch tracks never
    * index each other (q72's contract) — the streaming twin
    * ([[graft.streaming.StreamingAnalytics.audioDupVerdictsPerBatch]])
    * reproduces this table under ANY micro-batching.
    *
    * Scale shape: decode + envelope fold are map-side; one equi-join of
    * the batch against the hash-keyed index; one verdict row per batch
    * track. */
  def audioIncrementalDedup(spark: SparkSession, dir: String): DataFrame =
    audioIncrementalDedupOf(spark, dir, increment(spark, Windows, dir))

  /** [[audioIncrementalDedup]] over an arbitrary (doc_id, payload)
    * batch — the per-micro-batch core of the streaming twin. */
  private[graft] def audioIncrementalDedupOf(spark: SparkSession, dir: String,
      batch: DataFrame): DataFrame =
    audioSigTableOf(batch)
      .select(col("doc_id"), col("sig_hi"), col("sig_lo"))
      .join(audioSigIndex(spark, dir), Seq("sig_hi", "sig_lo"), "left")
      .select(col("doc_id"), col("sig_hi"), col("sig_lo"),
        when(col("dup_of").isNull, "new").otherwise("dup").as("status"),
        col("dup_of"))
      .orderBy("doc_id")

  /** q140 — video DUP CLUSTERS + survivor selection: q139's verified
    * near-pairs folded into connected components (the q61 large-star/
    * small-star contraction) and reduced to the keep-list under the
    * policy a video corpus wants: keep the LONGEST copy (most total
    * frames — the least-truncated capture; ties → smallest doc_id),
    * with member count and the frame mass the dedup removes. Mirrors
    * q133 shape-for-shape (pair plan + O(log n) contraction + one
    * metadata-keyed join + one comp-keyed argmax). Pairs come from the
    * persisted artifact ([[videoPairsTable]], r14), which carries both
    * sides' parsed frame counts — the cluster pass touches no payload
    * bytes. */
  def videoDupClusters(spark: SparkSession, dir: String): DataFrame = {
    val p = videoPairsTable(spark, dir)
    val lengths = p.select(col("d1").as("doc_id"), col("nf1").as("nf"))
      .union(p.select(col("d2").as("doc_id"), col("nf2").as("nf")))
      .groupBy("doc_id").agg(max("nf").as("nf"))
    survivorFold(pairLabelsTable(spark, dir, "vid", 140)(p.select(col("d1"), col("d2"))),
      lengths, "frames_total", "survivor_frames", "frames_removed")
  }

  /** [[videoDupClusters]] over an arbitrary frame-hash table — the unit
    * the spec drives crafted fixtures through. */
  private[graft] def videoDupClustersOf(fh: DataFrame): DataFrame =
    survivorFold(liveLabels(videoNearDupOf(fh).select(col("d1"), col("d2"))),
      fh.groupBy(col("doc_id")).agg(max(col("n_frames")).as("nf")),
      "frames_total", "survivor_frames", "frames_removed")

  /** The survivor fold of the three dup-cluster queries (q133/q140/q142):
    * per cluster of `labels` (doc_id, comp_id), the member count, the
    * summed size as `total`, and the survivor — the member of largest
    * size in `sizes` (doc_id, size), ties to the smallest doc_id — with
    * its size as `survivor` and the size the dedup removes as `removed`. */
  private def survivorFold(labels: DataFrame, sizes: DataFrame, total: String,
      survivor: String, removed: String): DataFrame = {
    val size = col(sizes.columns(1))
    labels
      .join(sizes, Seq("doc_id"))
      .groupBy("comp_id")
      .agg(count(lit(1)).as("n_members"), sum(size).as(total),
        max(struct(size.as("v"), (lit(0L) - col("doc_id")).as("negid"))).as("s"))
      .select(col("comp_id"), col("n_members"), col(total),
        (lit(0L) - col("s.negid")).as("survivor_doc_id"),
        col("s.v").as(survivor),
        (col(total) - col("s.v")).as(removed))
      .orderBy("comp_id")
  }

  /** Energy windows in an audio fingerprint (shares the image hash
    * width so [[aHashOf]] is the one threshold-signature kernel for all
    * three modalities). */
  val AudioWindows = 64
  /** Mean |sample| below this flags a low-energy (near-silent) track. */
  val LowEnergyAbs = 1000L

  /** Typed per-track audio signature row. */
  case class AudioSigRow(doc_id: Long, n_samples: Long, sig_hi: Long, sig_lo: Long,
                         total_abs: Long, peak_abs: Long, mean_abs: Long,
                         n_clipped: Long, low_energy: Boolean, short_track: Boolean)

  /** Decode one WAV (real RIFF walk), fold |sample| mass into
    * [[AudioWindows]] equal windows, and hash the energy envelope with
    * [[aHashOf]] — bit t set iff window t carries at least the mean
    * window energy. Plus the audit stats a curation pass cuts on:
    * peak/mean |amplitude|, rail-clipped sample count, low-energy flag.
    *
    * Damaged-input contract (r13, advisory): a track with fewer samples
    * than [[AudioWindows]] used to `require`-crash the whole stage from
    * inside mapPartitions — one malformed upload killing a corpus-wide
    * pass is the wrong trade at scale. Short tracks now DEGRADE: the
    * envelope fold runs over however many windows receive mass (the
    * signature stays deterministic but undersampled) and the row carries
    * `short_track = true` so a curation pass can cut on it; an empty
    * payload yields the all-zero row with both flags set. The corpus
    * generator emits ≥ 500 samples, so gated output has short_track
    * uniformly false — pinned by the oracle's `n < 64` derivation. */
  private[graft] def audioSignature(docId: Long, payload: Array[Byte]): AudioSigRow = {
    val samples = scala.collection.mutable.ArrayBuffer.empty[Int]
    MediaCodecs.decodeWav(payload)(s => samples += math.abs(s.toInt))
    val n = samples.length
    if (n == 0)
      AudioSigRow(docId, 0L, 0L, 0L, 0L, 0L, 0L, 0L,
        low_energy = true, short_track = true)
    else {
      val e = new Array[Long](AudioWindows)
      var total = 0L; var peak = 0L; var clipped = 0L
      var i = 0
      while (i < n) {
        val v = samples(i).toLong
        e(i * AudioWindows / n) += v
        total += v; if (v > peak) peak = v; if (v >= 32767L) clipped += 1
        i += 1
      }
      val (hi, lo) = aHashOf(e)
      val mean = total / n
      AudioSigRow(docId, n.toLong, hi, lo, total, peak, mean, clipped,
        mean < LowEnergyAbs, short_track = n < AudioWindows)
    }
  }

  /** q138 — AUDIO energy-envelope signatures: the audio member of the
    * perceptual-fingerprint trilogy (image q128, video q134). Every WAV
    * document's PCM stream is decoded from real RIFF bytes, its
    * |sample| mass folded into [[AudioWindows]] equal windows, and the
    * envelope hashed with the SAME mean-threshold kernel as the image
    * hashes — re-encoded or resampled copies of one recording collapse
    * to the same 64-bit signature, which is the dedup join key at
    * deployment. The row also carries the audit columns an audio
    * curation pass cuts on: peak and mean |amplitude|, the
    * rail-clipped sample count (distorted captures), and a low-energy
    * flag (near-silent tracks carry no training value per byte). The
    * DuckDB oracle re-derives envelope, hash, and stats from the PCM
    * generator in closed form.
    *
    * Scale shape: one typed mapPartitions decode kernel, map-side; one
    * narrow row per track; no shuffle before the contract sort. */
  def audioSignatures(spark: SparkSession, dir: String): DataFrame =
    audioSigTable(spark, dir).orderBy("doc_id")

  /** [[audioSignatures]] without the presentation sort — the form the
    * q141/q142 near-dup chain composes (their first move re-shuffles). */
  private[graft] def audioSigTable(spark: SparkSession, dir: String): DataFrame =
    audioSigTableOf(mediaOf(spark, dir, "wav"))

  /** The signature kernel over an arbitrary (doc_id, payload) frame —
    * shared by the corpus path, the q145 batch probe, and the streaming
    * ingest twin (the [[imageAHashesOf]] pattern). */
  private[graft] def audioSigTableOf(media: DataFrame): DataFrame =
    decodeRows(media)((id, payload) => Iterator.single(audioSignature(id, payload)))

  /** q141 — AUDIO near-dup verdicts: q128's banded-Hamming machinery
    * over q138's 64-bit energy-envelope hashes. The envelope normalizes
    * any track to [[AudioWindows]] equal-mass windows, so a re-encoded
    * or re-SAMPLED copy of one recording (different n_samples, same
    * waveform shape — the case the exact byte/content hash can never
    * catch) lands within a few envelope bits of its source; banding (4 ×
    * 16-bit, capped buckets with overflow observed) generates candidates
    * with guaranteed recall to 3 flipped bits, exact XOR-popcount ≤
    * [[ImgHammingMax]] verifies, and the verify runs BEFORE the
    * cross-band distinct (q128's trick). Output carries both track
    * lengths precisely because near-dups with DIFFERENT lengths are the
    * operator's point.
    *
    * The audio generator's waveform is doc_id-keyed with no EXACT
    * periodic class inside any test SF (the envelope offset cycle is
    * 65536 ids), so gated output at the small gate SFs is empty — pinned
    * by spec, with crafted resample/re-encode fixtures driving the
    * guaranteed verdicts through [[audioNearDupOf]] (the q139 fixture
    * pattern). At sf0.1 the corpus DOES produce verified pairs (761,
    * hash-matched against the oracle): long tracks' near-uniform
    * envelopes sit within a few bits of each other — the known aHash
    * low-contrast behavior (same kernel as images); a deployment cuts
    * low-energy/low-contrast tracks upstream, which is exactly what the
    * q138 audit columns are for.
    *
    * Scale shape: identical to q128 — map-side hashing, one 4-rows/track
    * band shuffle, capped pair expansion, never all-pairs. */
  def audioNearDup(spark: SparkSession, dir: String): DataFrame = {
    Diagnostics.install(spark)
    audioNearDupOf(audioSigTable(spark, dir)).orderBy("d1", "d2")
  }

  /** [[audioNearDup]] over an arbitrary signature table — the unit the
    * spec drives crafted fixtures through (needs doc_id, sig_hi, sig_lo,
    * n_samples). */
  private[graft] def audioNearDupOf(sigs: DataFrame): DataFrame = {
    val banded = sigs.select(
      col("doc_id"), col("sig_hi").as("hi"), col("sig_lo").as("lo"),
      col("n_samples").as("ns"), bands16("sig_hi", "sig_lo"))
    cappedBuckets(banded, Seq("band_idx", "band_val"),
        struct(col("doc_id"), col("hi"), col("lo"), col("ns")), "q141_audio_buckets")
      .select(explode(expr(
        """flatten(transform(members, (x, i) ->
          |  transform(slice(members, i + 2, size(members)), y ->
          |    named_struct('d1', x.doc_id, 'hi1', x.hi, 'lo1', x.lo, 'ns1', x.ns,
          |                 'd2', y.doc_id, 'hi2', y.hi, 'lo2', y.lo, 'ns2', y.ns))))""".stripMargin)).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"),
        expr("CAST(bit_count(p.hi1 ^ p.hi2) + bit_count(p.lo1 ^ p.lo2) AS BIGINT)").as("hamming"),
        col("p.ns1").as("n_samples_1"), col("p.ns2").as("n_samples_2"))
      .where(col("hamming") <= ImgHammingMax)
      .distinct()
  }

  /** q142 — audio DUP CLUSTERS + survivor selection: q141's verified
    * near-pairs folded into connected components with the policy an
    * audio corpus wants: keep the LONGEST capture (most samples — the
    * least-truncated / highest-rate copy; ties → smallest doc_id), with
    * member count and the sample mass the dedup removes. Completes the
    * q133/q140 survivor story for the third modality, same shapes.
    * Pairs come from the persisted artifact ([[audioPairsTable]], r14);
    * member lengths come from the pairs themselves (q141's verdict rows
    * carry both track lengths, and every cluster member appears in at
    * least one pair), so the cluster pass touches no payload bytes. */
  def audioDupClusters(spark: SparkSession, dir: String): DataFrame = {
    val p = audioPairsTable(spark, dir)
    val lengths = p.select(col("d1").as("doc_id"), col("n_samples_1").as("n_samples"))
      .union(p.select(col("d2").as("doc_id"), col("n_samples_2").as("n_samples")))
      .groupBy("doc_id").agg(max("n_samples").as("n_samples"))
    survivorFold(pairLabelsTable(spark, dir, "aud", 142)(p.select(col("d1"), col("d2"))),
      lengths, "samples_total", "survivor_samples", "samples_removed")
  }

  /** [[audioDupClusters]] over an arbitrary signature table — the
    * fixture path (no artifact for an arbitrary frame). */
  private[graft] def audioDupClustersOf(sigs: DataFrame): DataFrame =
    survivorFold(liveLabels(audioNearDupOf(sigs).select(col("d1"), col("d2"))),
      sigs.select(col("doc_id"), col("n_samples")),
      "samples_total", "survivor_samples", "samples_removed")

  /** Star-contraction labels computed inline — the fixture path's label
    * source (no artifact for an arbitrary frame). */
  private def liveLabels(pairs: DataFrame): DataFrame = {
    val (labels, _, _) = Dedup.connectedComponents(
      pairs.toDF("src", "dst"), Dedup.MaxCcIters)
    labels.select(col("id").as("doc_id"), col("comp").as("comp_id"))
  }

  /** Persisted per-modality cluster-label tables (doc_id, comp_id) —
    * the q61 `nearDupLabels` pattern applied to the media chains: the
    * O(log n) contraction's handful of shuffle rounds is the remaining
    * per-call cost once pairs are persisted, and it too is a pure
    * function of the corpus fingerprint. Built from the persisted pair
    * artifacts; re-gated every verify run by the oracles' recursive
    * closures. */
  private def pairLabelsTable(spark: SparkSession, dir: String, prefix: String,
      salt: Int)(pairs: => DataFrame): DataFrame =
    Artifacts.persisted(spark, dir, prefix + "_labels", salt)(liveLabels(pairs))

  /** Persisted VERIFIED near-pair artifacts (r14, the round-13 verdict's
    * top task): the three dup-cluster chains (q133/q140/q142) re-ran
    * their modality's full pair generation inline per call — correct and
    * self-contained, but the q61 label-table lesson applies verbatim:
    * pair generation runs once per corpus content-fingerprint and lands
    * as a tiny survivor-pair parquet table; the cluster queries pay a
    * read plus the O(log n) contraction. The gated pair queries
    * (q128/q139/q141) stay fully live — they price the production
    * pipeline and carry the always-on overflow metrics — and every
    * DuckDB oracle re-derives the whole chain from the generator each
    * verify run, so the artifacts are re-gated, never frozen. Built
    * under the [[graft.sources.Artifacts]] contract. */
  private[graft] def imagePairsTable(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "img_pairs", 128)(imageNearDupUnordered(spark, dir))

  /** q164 — multimodal benchmark DECONTAMINATION (image leg): q65's
    * eval/train split (`(doc_id·2654435761) % 100 < 20` holds out the
    * eval slice) applied to the image corpus, with an eval image flagged
    * CONTAMINATED when the perceptual near-dup chain (q128: aHash →
    * 4×16-bit bands → capped buckets → Hamming ≤ ImgHammingMax verify)
    * links it to ANY train image — the multimodal twin of q65's text
    * n-gram decontamination, and the check a benchmark release runs
    * before trusting eval numbers (a re-encoded/rescaled copy of a
    * training image in the eval set is invisible to exact byte or hash
    * equality; the perceptual chain is what actually catches it).
    * `train_match` carries the smallest matching train doc_id for
    * provenance (−1 when clean).
    *
    * Scale shape: the pair set is the persisted verified-pair artifact
    * ([[imagePairsTable]] — banded, capped, never all-pairs); the audit
    * is a direction union + one groupBy over that bounded set, then a
    * left join against the eval slice of the image ids (a metadata
    * projection — no decode on the live path). */
  def mediaContamination(spark: SparkSession, dir: String): DataFrame =
    mediaContaminationFrom(imagePairsTable(spark, dir).select(col("d1"), col("d2")),
      mediaOf(spark, dir, "bmp").select(col("doc_id")))

  /** q175 — FULL-RELEASE media decontamination (r16, verdict task 4):
    * q164's audit extended to every modality. A re-encoded training
    * VIDEO or AUDIO clip in the eval set was unchecked — q164 filters
    * `format = 'bmp'` — even though the perceptual chains to catch it
    * already existed. One row per EVAL-side media document (q65's split
    * predicate, all three modalities), flagged CONTAMINATED when ANY
    * chain links it to a train-side document:
    *   - images: the verified near-pair artifact (q128's chain);
    *   - video: q139's aligned-envelope pairs (same-length re-encodes)
    *     OR q178's TIME-NORMALIZED prefix containment (a clipped —
    *     even re-timed — eval copy of a training video, invisible to
    *     the aligned-length chain);
    *   - audio: q141's envelope pairs (resample-invariant re-encodes)
    *     OR q176's RATE-NORMALIZED prefix containment (clips the
    *     whole-track envelope renormalizes away, resampled or not).
    * The prefix legs read the NORMALIZED chains since r18 (verdict
    * task 3): the raw q147/q173 legs let a resampled or re-timed
    * eval-set copy pass the release audit that exists precisely to
    * catch it. On the all-canonical corpus the normalized and raw
    * verdict sets are identical (spec-pinned), so the swap changes the
    * contract, not the canonical result. `train_match` carries the
    * smallest matching train doc_id for provenance (−1 when clean) —
    * q164's contract, unchanged.
    *
    * Scale shape: ALL FIVE pair inputs are persisted duplicate-mass-
    * bounded artifacts — the three near-pair tables plus the two
    * prefix-verdict tables ([[videoPrefixPairsTable]] /
    * [[audioPrefixPairsTable]], built once per corpus fingerprint from
    * the q178/q176 normalized chains); the eval slice is a metadata projection of
    * the media table (no payload bytes move); the audit itself is
    * [[mediaContaminationFrom]] — a direction union + one groupBy over
    * the bounded pair set, then a left join against the eval slice. */
  def mediaContaminationFull(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Seq(
        imagePairsTable(spark, dir),
        videoPairsTable(spark, dir),
        videoPrefixPairsTable(spark, dir),
        audioPairsTable(spark, dir),
        audioPrefixPairsTable(spark, dir))
      .map(_.select(col("d1"), col("d2")))
      .reduce(_ unionByName _)
    mediaContaminationFrom(pairs,
      mediaTable(spark, dir).select(col("doc_id"), col("meta.format").as("modality")))
  }

  /** The q164/q175 audit core over an arbitrary undirected pair set and
    * a catalog (doc_id plus any columns to carry through, q175's
    * `modality`) — the unit the spec drives crafted cross-split fixtures
    * through. */
  private[graft] def mediaContaminationFrom(pairs: DataFrame,
      media: DataFrame): DataFrame = {
    def isEval(c: Column) = pmod(c * lit(2654435761L), lit(100)) < 20
    val part = pairs.select(col("d1").as("e"), col("d2").as("t"))
      .union(pairs.select(col("d2").as("e"), col("d1").as("t")))
    val hits = part
      .where(isEval(col("e")) && !isEval(col("t")))
      .groupBy(col("e"))
      .agg(min(col("t")).as("tm"))
    media.where(isEval(col("doc_id")))
      .join(hits, col("doc_id") === col("e"), "left")
      .select(media.columns.map(col) ++ Seq(
        col("tm").isNotNull.as("contaminated"),
        coalesce(col("tm"), lit(-1L)).as("train_match")): _*)
      .orderBy("doc_id")
  }

  /** [[imagePairsTable]]'s video twin, enriched at build time with both
    * sides' TOTAL frame counts (parsed, not metadata) so the cluster
    * fold needs no decode pass. */
  private[graft] def videoPairsTable(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "vid_pairs", 139) {
      val fh = videoFrameTable(spark, dir)
      val nf = fh.groupBy(col("doc_id")).agg(max(col("n_frames")).as("nf"))
      videoNearDupOf(fh)
        .join(nf.select(col("doc_id").as("d1"), col("nf").as("nf1")), Seq("d1"))
        .join(nf.select(col("doc_id").as("d2"), col("nf").as("nf2")), Seq("d2"))
    }

  /** [[imagePairsTable]]'s audio twin (q141's verdict rows already carry
    * both track lengths). */
  private[graft] def audioPairsTable(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "aud_pairs", 141)(audioNearDupOf(audioSigTable(spark, dir)))

  /** Persisted NORMALIZED containment verdicts (q178's time-normalized
    * chain) — the prefix-pair artifact the q175 audit consumes,
    * mirroring [[videoPairsTable]] for the aligned chain. Swapped from
    * the raw q147 chain in r18 (verdict task 3): the release audit
    * exists precisely to catch eval contamination, so it must read the
    * resample/re-time-proof verdicts — a re-timed eval-set copy passed
    * the raw-leg audit. On the all-canonical corpus the normalized and
    * raw verdict sets are provably identical (the q178 spec pins it),
    * so the swap is a contract fix, not a result change. q178 itself
    * stays a live recompute (banding + verify from the normalized frame
    * table) so the gated query keeps pricing the chain; downstream
    * audits read the verdicts the way a deployment would — containment
    * is derived once per corpus fingerprint, not once per audit. The
    * oracle re-derives containment from pixels every verify run, so
    * the artifact is re-gated, never trusted. */
  private[graft] def videoPrefixPairsTable(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "vidpfx_pairs", 1780)(
      videoPrefixContainmentTimeNormalized(spark, dir))

  /** [[videoPrefixPairsTable]]'s audio twin (q176's rate-normalized
    * verdicts; swapped from raw q173 in r18 for the same reason). */
  private[graft] def audioPrefixPairsTable(spark: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(spark, dir, "audpfx_pairs", 1760)(
      audioPrefixContainmentNormalized(spark, dir))

  /** q146 — MEDIA DEDUP MANIFEST: the per-document keep/drop verdict
    * table across ALL THREE modalities — the release artifact a
    * multimodal training job actually consumes (r13 verdict gap 2: the
    * dedup funnel and training manifest were text-only; the media
    * keep-lists existed but nothing joined survivorship into one
    * report). Every media document gets one row: its modality, its
    * near-dup cluster (NULL when unclustered), `keep` (unclustered, or
    * its cluster's survivor under that modality's policy — largest
    * image / longest video / longest audio capture, ties smallest
    * doc_id) or `drop` with `dup_of` naming the survivor to train on
    * instead.
    *
    * Scale shape: three persisted label-table reads + the (tiny)
    * survivor tables, one left join against a metadata-only projection
    * of the media table (no payload bytes move), output one narrow row
    * per media document. Modalities partition doc_id space, so the
    * union carries no key collisions. */
  def mediaDedupManifest(spark: SparkSession, dir: String): DataFrame = {
    val img = pairLabelsTable(spark, dir, "img", 133)(
        imagePairsTable(spark, dir).select(col("d1"), col("d2")))
      .join(imageDupClusters(spark, dir).select(col("comp_id"), col("survivor_doc_id")),
        Seq("comp_id"))
    val vid = pairLabelsTable(spark, dir, "vid", 140)(
        videoPairsTable(spark, dir).select(col("d1"), col("d2")))
      .join(videoDupClusters(spark, dir).select(col("comp_id"), col("survivor_doc_id")),
        Seq("comp_id"))
    val aud = pairLabelsTable(spark, dir, "aud", 142)(
        audioPairsTable(spark, dir).select(col("d1"), col("d2")))
      .join(audioDupClusters(spark, dir).select(col("comp_id"), col("survivor_doc_id")),
        Seq("comp_id"))
    val clustered = img.unionByName(vid).unionByName(aud)
    mediaTable(spark, dir).select(col("doc_id"), col("meta.format").as("modality"))
      .join(clustered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("modality"), col("comp_id"),
        when(col("comp_id").isNull || col("doc_id") === col("survivor_doc_id"), "keep")
          .otherwise("drop").as("verdict"),
        when(col("comp_id").isNotNull && col("doc_id") =!= col("survivor_doc_id"),
          col("survivor_doc_id")).as("dup_of"))
      .orderBy("doc_id")
  }

  /** q172 — MEDIA-AWARE leakage-safe split (r15 verdict task 4): q89
    * keeps TEXT near-dup clusters split-atomic, but an image/video/audio
    * duplicated between two documents could still place them on opposite
    * sides of train/eval — cross-modal leakage the q146 manifest sees
    * but the split rule ignored. This folds the media cluster labels
    * (q133/q140/q142) into the split: ONE connected-components pass over
    * the union of the four label tables' (doc_id → comp root) edges
    * merges every text and media component that shares a document, and
    * the unified root drives q89's hash rule unchanged (unclustered docs
    * keep q82's content-digest fallback).
    *
    * Label edges connect exactly the same vertices as each modality's
    * raw pair graph (labels ARE that graph's components), so CC over the
    * unioned label edges equals CC over the unioned pair graphs — the
    * form the oracle recomputes from raw text/bytes.
    *
    * Scale shape: every input is a persisted duplicate-mass-bounded
    * label table, NOT the corpus; the union graph folds in one
    * mapPartitions union-find task under [[Dedup.SmallGraphEdgeCap]]
    * (star contraction above it); the corpus is touched once, by the
    * final split join. */
  def mediaSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val text = Dedup.nearDupLabels(spark, dir)
    val img = pairLabelsTable(spark, dir, "img", 133)(
      imagePairsTable(spark, dir).select(col("d1"), col("d2")))
    val vid = pairLabelsTable(spark, dir, "vid", 140)(
      videoPairsTable(spark, dir).select(col("d1"), col("d2")))
    val aud = pairLabelsTable(spark, dir, "aud", 142)(
      audioPairsTable(spark, dir).select(col("d1"), col("d2")))
    val edges = Seq(text, img, vid, aud)
      .map(_.select(col("doc_id"), col("comp_id")))
      .reduce(_ unionByName _)
      .where(col("doc_id") =!= col("comp_id"))
      .select(greatest(col("doc_id"), col("comp_id")).as("src"),
        least(col("doc_id"), col("comp_id")).as("dst"))
      .distinct().localCheckpoint(true)
    val unified =
      (if (edges.count() <= Dedup.SmallGraphEdgeCap) Dedup.ccSingleTask(edges)
       else Dedup.connectedComponents(edges, Dedup.MaxCcIters)._1)
        .select(col("id").as("doc_id"), col("comp").as("comp_id"))
    Dedup.clusterSplitFrom(spark, dir, unified)
  }

  /** q133 — image DUP CLUSTERS + survivor selection: q128's verified
    * near-pairs folded into connected components (the q61 large-star/
    * small-star contraction, O(log n) rounds) and reduced to the
    * actionable keep-list — per image cluster, the canonical survivor
    * under the policy an image corpus actually wants: keep the
    * HIGHEST-RESOLUTION copy (largest pixel area from the stored
    * metadata catalog; ties → smallest doc_id), with member count and
    * the pixel mass the dedup removes. The text side's q61/q120 story
    * completed for the multimodal column.
    *
    * Scale shape: pair generation is q128's banded plan; contraction is
    * O(log n) bounded rounds over the (sparse) pair set; the area join
    * is doc-keyed against a metadata projection of the media table (no
    * payload bytes move); the argmax is ONE comp-keyed max(struct)
    * aggregate, output bounded by cluster count. */
  def imageDupClusters(spark: SparkSession, dir: String): DataFrame = {
    val labels = pairLabelsTable(spark, dir, "img", 133)(
      imagePairsTable(spark, dir).select(col("d1"), col("d2")))
    val areas = mediaOf(spark, dir, "bmp")
      .select(col("doc_id"), (col("meta.width").cast("long") * col("meta.height")).as("area"))
    survivorFold(labels, areas, "total_area", "survivor_area", "area_removed")
  }
}

/** Codec-free encoders/decoders: every format here is header + raw
  * samples, decodable with pure byte arithmetic. Encoders emit
  * spec-conformant files; decoders validate magic numbers and header
  * invariants and throw IllegalArgumentException on malformed input
  * (the binary analog of the CLF dead-letter discipline). */
object MediaCodecs {

  /** Classify a payload from its magic bytes: BM → bmp, RIFF/WAVE → wav,
    * P6 → vid (a PPM stream; single images use BMP in this pipeline). */
  def sniff(b: Array[Byte]): String =
    if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') "bmp"
    else if (b.length >= 12 && ascii(b, 0, 4) == "RIFF" && ascii(b, 8, 4) == "WAVE") "wav"
    else if (b.length >= 2 && b(0) == 'P' && b(1) == '6') "vid"
    else "unknown"

  private def ascii(b: Array[Byte], off: Int, len: Int): String =
    new String(b, off, len, java.nio.charset.StandardCharsets.US_ASCII)
  @inline private def u8(b: Byte): Int = b & 0xFF
  private def readLE16(b: Array[Byte], off: Int): Int = u8(b(off)) | (u8(b(off + 1)) << 8)
  private def readLE32(b: Array[Byte], off: Int): Int =
    u8(b(off)) | (u8(b(off + 1)) << 8) | (u8(b(off + 2)) << 16) | (u8(b(off + 3)) << 24)
  private def writeLE16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
  }
  private def writeLE32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
    b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
  }
  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)
  private def check(cond: Boolean, msg: => String): Unit = if (!cond) fail(msg)

  /** BMP row stride: w·3 bytes rounded up to a 4-byte boundary. */
  def bmpStride(w: Int): Int = (w * 3 + 3) / 4 * 4
  /** Total encoded BMP size for a w×h 24-bpp image. */
  def bmpSize(w: Int, h: Int): Int = 54 + bmpStride(w) * h

  /** Encode a 24-bpp bottom-up BMP. `rgb(i)` gives the byte at logical
    * top-down row-major RGB flat index i ∈ [0, w·h·3). */
  def encodeBmp(w: Int, h: Int, rgb: Int => Int): Array[Byte] = {
    val stride = bmpStride(w)
    val out = new Array[Byte](bmpSize(w, h))
    out(0) = 'B'; out(1) = 'M'
    writeLE32(out, 2, out.length)           // file size
    writeLE32(out, 10, 54)                  // pixel-data offset
    writeLE32(out, 14, 40)                  // BITMAPINFOHEADER size
    writeLE32(out, 18, w)
    writeLE32(out, 22, h)                   // positive height = bottom-up
    writeLE16(out, 26, 1)                   // planes
    writeLE16(out, 28, 24)                  // bits per pixel
    writeLE32(out, 30, 0)                   // BI_RGB (uncompressed)
    writeLE32(out, 34, stride * h)          // image size
    writeLE32(out, 38, 2835); writeLE32(out, 42, 2835) // 72 dpi
    var fy = 0
    while (fy < h) {
      val y = h - 1 - fy                    // file rows are bottom-up
      var x = 0
      while (x < w) {
        val i = (y * w + x) * 3             // logical RGB index
        val pos = 54 + fy * stride + x * 3  // file stores BGR
        out(pos) = rgb(i + 2).toByte
        out(pos + 1) = rgb(i + 1).toByte
        out(pos + 2) = rgb(i).toByte
        x += 1
      }
      fy += 1                               // padding bytes stay zero
    }
    out
  }

  /** Parse a 24-bpp BMP and emit the logical top-down RGB value stream
    * (each value 0–255) in order — un-padding rows, flipping the
    * bottom-up layout and un-swizzling BGR. */
  /** Parsed (width, height) of a BMP payload (validated magic/header). */
  def bmpDims(b: Array[Byte]): (Int, Int) = {
    check(b.length >= 54 && b(0) == 'B' && b(1) == 'M', "BMP: bad magic/short header")
    (readLE32(b, 18), readLE32(b, 22))
  }

  def decodeBmp(b: Array[Byte])(emit: Int => Unit): Unit = {
    check(b.length >= 54 && b(0) == 'B' && b(1) == 'M', "BMP: bad magic/short header")
    val off = readLE32(b, 10)
    check(readLE32(b, 14) == 40, "BMP: expected BITMAPINFOHEADER")
    val w = readLE32(b, 18); val h = readLE32(b, 22)
    check(w > 0 && h > 0, s"BMP: bad dims ${w}x$h")
    check(readLE16(b, 26) == 1, "BMP: planes != 1")
    check(readLE16(b, 28) == 24, "BMP: not 24-bpp")
    check(readLE32(b, 30) == 0, "BMP: compressed")
    val stride = bmpStride(w)
    check(b.length >= off + stride * h, "BMP: truncated pixel data")
    var y = 0
    while (y < h) {
      val rowPos = off + (h - 1 - y) * stride
      var x = 0
      while (x < w) {
        val pos = rowPos + x * 3
        emit(u8(b(pos + 2))); emit(u8(b(pos + 1))); emit(u8(b(pos))) // BGR → R,G,B
        x += 1
      }
      y += 1
    }
  }

  /** Encode mono 16-bit PCM into a canonical RIFF/WAVE file. The
    * generator always writes the 8 kHz default; the `rate` parameter
    * exists for crafted resampled-copy fixtures (q176's spec). */
  def encodeWav(samples: Array[Short], rate: Int = 8000): Array[Byte] = {
    val dataLen = samples.length * 2
    val out = new Array[Byte](44 + dataLen)
    out(0) = 'R'; out(1) = 'I'; out(2) = 'F'; out(3) = 'F'
    writeLE32(out, 4, 36 + dataLen)
    out(8) = 'W'; out(9) = 'A'; out(10) = 'V'; out(11) = 'E'
    out(12) = 'f'; out(13) = 'm'; out(14) = 't'; out(15) = ' '
    writeLE32(out, 16, 16)                  // fmt chunk size
    writeLE16(out, 20, 1)                   // PCM
    writeLE16(out, 22, 1)                   // mono
    writeLE32(out, 24, rate)                // sample rate
    writeLE32(out, 28, rate * 2)            // byte rate
    writeLE16(out, 32, 2)                   // block align
    writeLE16(out, 34, 16)                  // bits per sample
    out(36) = 'd'; out(37) = 'a'; out(38) = 't'; out(39) = 'a'
    writeLE32(out, 40, dataLen)
    var i = 0
    while (i < samples.length) { writeLE16(out, 44 + i * 2, samples(i) & 0xFFFF); i += 1 }
    out
  }

  /** Parse the sample rate out of a RIFF/WAVE `fmt ` chunk (same walk
    * and validation as [[decodeWav]], stopping at fmt). The rate is the
    * one header field the decode path doesn't consume — window signing
    * is sample-indexed — so the rate-normalization stage (q176) reads
    * it explicitly. */
  def wavSampleRate(b: Array[Byte]): Int = {
    check(b.length >= 44 && ascii(b, 0, 4) == "RIFF" && ascii(b, 8, 4) == "WAVE",
      "WAV: bad RIFF/WAVE header")
    var pos = 12
    while (pos + 8 <= b.length) {
      val id = ascii(b, pos, 4)
      val size = readLE32(b, pos + 4)
      check(size >= 0 && pos + 8 + size <= b.length, s"WAV: chunk '$id' overruns payload")
      if (id == "fmt ") {
        check(size >= 16, "WAV: short fmt chunk")
        val rate = readLE32(b, pos + 12)
        check(rate > 0, "WAV: non-positive sample rate")
        return rate
      }
      pos += 8 + size + (size & 1)
    }
    fail("WAV: no fmt chunk")
  }

  /** Walk a RIFF/WAVE container chunk-by-chunk (word-aligned, unknown
    * chunks skipped), validate `fmt ` as PCM mono 16-bit, and emit the
    * signed samples of the `data` chunk in order. */
  def decodeWav(b: Array[Byte])(emit: Short => Unit): Unit = {
    check(b.length >= 44 && ascii(b, 0, 4) == "RIFF" && ascii(b, 8, 4) == "WAVE",
      "WAV: bad RIFF/WAVE header")
    var pos = 12
    var fmtSeen = false
    var dataSeen = false
    while (pos + 8 <= b.length && !dataSeen) {
      val id = ascii(b, pos, 4)
      val size = readLE32(b, pos + 4)
      check(size >= 0 && pos + 8 + size <= b.length, s"WAV: chunk '$id' overruns payload")
      id match {
        case "fmt " =>
          check(size >= 16, "WAV: short fmt chunk")
          check(readLE16(b, pos + 8) == 1, "WAV: not PCM")
          check(readLE16(b, pos + 10) == 1, "WAV: not mono")
          check(readLE16(b, pos + 22) == 16, "WAV: not 16-bit")
          fmtSeen = true
        case "data" =>
          check(fmtSeen, "WAV: data chunk before fmt")
          check(size % 2 == 0, "WAV: odd data size for 16-bit samples")
          var i = 0
          while (i < size / 2) { emit(readLE16(b, pos + 8 + i * 2).toShort); i += 1 }
          dataSeen = true
        case _ => // skip unknown chunk
      }
      pos += 8 + size + (size & 1)          // chunks are word-aligned
    }
    check(dataSeen, "WAV: no data chunk")
  }

  /** Encoded size of one P6 frame header ("P6\n{w} {h}\n255\n"). */
  def ppmHeaderSize(w: Int, h: Int): Int = 9 + w.toString.length + h.toString.length
  /** Total encoded size of an n-frame P6 stream. */
  def ppmStreamSize(w: Int, h: Int, nFrames: Int): Int =
    nFrames * (ppmHeaderSize(w, h) + w * h * 3)

  /** Encode nFrames concatenated binary PPM (P6) frames — the
    * image2pipe stream layout. `value(f, i)` gives frame f's byte at
    * flat index i ∈ [0, w·h·3). */
  def encodePpmStream(w: Int, h: Int, nFrames: Int, value: (Int, Int) => Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(ppmStreamSize(w, h, nFrames))
    var f = 0
    while (f < nFrames) {
      out.write(s"P6\n$w $h\n255\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      var i = 0
      while (i < w * h * 3) { out.write(value(f, i)); i += 1 }
      f += 1
    }
    out.toByteArray
  }

  /** [[encodePpmStream]] carrying a TIME-BASE tag: every frame header
    * gets a `# fps=<n>` comment (netpbm comments are legal between
    * header tokens). The generator never tags (canonical untagged
    * streams keep the corpus byte-identical); this overload exists for
    * crafted re-timed fixtures — the [[encodeWav]] `rate` parameter
    * pattern for video (q178's spec). */
  def encodePpmStream(w: Int, h: Int, nFrames: Int, fps: Int,
      value: (Int, Int) => Int): Array[Byte] = {
    check(fps > 0, "PPM: non-positive fps tag")
    val out = new java.io.ByteArrayOutputStream(ppmStreamSize(w, h, nFrames))
    var f = 0
    while (f < nFrames) {
      out.write(s"P6\n# fps=$fps\n$w $h\n255\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      var i = 0
      while (i < w * h * 3) { out.write(value(f, i)); i += 1 }
      f += 1
    }
    out.toByteArray
  }

  /** Skip PPM header whitespace AND `#` comment lines (legal anywhere
    * between header tokens per the netpbm format; the generator never
    * writes them — they carry the optional q178 time-base tag in
    * crafted re-timed fixtures). Returns the new position. */
  private def skipPpmSpace(b: Array[Byte], start: Int): Int = {
    var pos = start
    var moved = true
    while (moved) {
      moved = false
      while (pos < b.length && (b(pos) == ' ' || b(pos) == '\n' || b(pos) == '\t' || b(pos) == '\r')) {
        pos += 1; moved = true
      }
      if (pos < b.length && b(pos) == '#') {
        while (pos < b.length && b(pos) != '\n') pos += 1
        moved = true
      }
    }
    pos
  }

  /** Parsed (width, height) of a P6 stream's first frame header
    * (validated magic; all frames share dims — enforced by the full
    * decoder's per-frame check). */
  def ppmDims(b: Array[Byte]): (Int, Int) = {
    check(b.length >= 2 && b(0) == 'P' && b(1) == '6', "PPM: bad magic")
    var pos = 2
    def parseInt(): Int = {
      pos = skipPpmSpace(b, pos)
      check(pos < b.length && b(pos) >= '0' && b(pos) <= '9', "PPM: expected integer in header")
      var v = 0
      while (pos < b.length && b(pos) >= '0' && b(pos) <= '9') { v = v * 10 + (b(pos) - '0'); pos += 1 }
      v
    }
    val w = parseInt(); val h = parseInt()
    check(w > 0 && h > 0, s"PPM: bad dims ${w}x$h")
    (w, h)
  }

  /** Largest legal `# fps=` tag value. PPM headers are attacker-shaped
    * input (crafted payloads reach this parser before any split gate),
    * so the tag is bounded like every other header field: a saner-than-
    * any-camera 1000 fps cap turns both an overlong digit run (which
    * would overflow `toInt` into a raw NumberFormatException) and an
    * absurd rate (which would normalize every stream to zero frames)
    * into the parser family's validated `check` error. */
  val MaxPpmFps = 1000

  /** Parse the TIME-BASE tag out of a P6 stream's first frame header:
    * an optional `# fps=<n>` comment between ANY of the header tokens
    * (netpbm comments are legal at every inter-token position, and
    * [[skipPpmSpace]] accepts them there — the tag parse scans the same
    * positions: magic→width, width→height, height→maxval). The one
    * field the frame walk doesn't consume — the q178/q179
    * time-normalization stages read it explicitly, the q176
    * [[wavSampleRate]] pattern for video. Absent tag → `default` (the
    * canonical rate; the generator writes untagged streams). Tag value
    * is bounded by [[MaxPpmFps]] (validated error, not overflow). */
  def ppmFrameRate(b: Array[Byte], default: Int): Int = {
    check(b.length >= 2 && b(0) == 'P' && b(1) == '6', "PPM: bad magic")
    var pos = 2
    var found = -1
    // the first frame header has three inter-token gaps that can carry
    // comments (before width, height, maxval); scan them all
    var gap = 0
    while (gap < 3) {
      var moved = true
      while (moved) {
        moved = false
        while (pos < b.length && (b(pos) == ' ' || b(pos) == '\n' || b(pos) == '\t' || b(pos) == '\r')) {
          pos += 1; moved = true
        }
        if (pos < b.length && b(pos) == '#') {
          val eol = { var e = pos; while (e < b.length && b(e) != '\n') e += 1; e }
          if (found < 0) {
            val m = "fps=([0-9]+)".r.findFirstMatchIn(ascii(b, pos, eol - pos))
            m.foreach { g =>
              val digits = g.group(1)
              check(digits.length <= 4 && digits.toInt > 0 && digits.toInt <= MaxPpmFps,
                s"PPM: fps tag out of range (1..$MaxPpmFps)")
              found = digits.toInt
            }
          }
          pos = eol; moved = true
        }
      }
      // consume the token this gap precedes (digits of w/h/maxval)
      while (pos < b.length && b(pos) >= '0' && b(pos) <= '9') pos += 1
      gap += 1
    }
    if (found > 0) found else default
  }

  /** Pass-1 header walk of a concatenated P6 stream: validates every
    * frame header (shared dims, maxval 255, complete pixel data) and
    * returns (w, h, per-frame pixel-data offsets). The single parser
    * behind [[decodePpmStreamSampled]] and [[ppmFrameCount]] —
    * layout-derived, never metadata-trusted. */
  private def ppmFrameOffsets(b: Array[Byte]): (Int, Int, Array[Int]) = {
    var pos = 0
    var dims: (Int, Int) = null
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (pos < b.length) {
      check(pos + 2 <= b.length && b(pos) == 'P' && b(pos + 1) == '6', "PPM: bad magic")
      pos += 2
      def parseInt(): Int = {
        pos = skipPpmSpace(b, pos)
        check(pos < b.length && b(pos) >= '0' && b(pos) <= '9', "PPM: expected integer in header")
        var v = 0
        while (pos < b.length && b(pos) >= '0' && b(pos) <= '9') { v = v * 10 + (b(pos) - '0'); pos += 1 }
        v
      }
      val w = parseInt(); val h = parseInt(); val maxVal = parseInt()
      pos += 1                              // single whitespace after maxval
      check(maxVal == 255, s"PPM: unsupported maxval $maxVal")
      check(w > 0 && h > 0, s"PPM: bad dims ${w}x$h")
      if (dims == null) dims = (w, h)
      else check(dims == ((w, h)), "PPM: frame dims differ within stream")
      check(pos + w * h * 3 <= b.length, "PPM: truncated frame data")
      offsets += pos
      pos += w * h * 3
    }
    check(offsets.nonEmpty, "PPM: empty stream")
    (dims._1, dims._2, offsets.toArray)
  }

  /** Total frame count of a P6 stream, from the validated header walk
    * (NOT size arithmetic — a crafted stream with header comments has
    * non-uniform header sizes). */
  def ppmFrameCount(b: Array[Byte]): Int = ppmFrameOffsets(b)._3.length

  /** Parse a concatenated P6 stream: discover the frame count from the
    * stream itself, sample k evenly spaced frames via
    * [[Multimodal.frameOffsets]], and emit their pixel bytes in frame
    * order. Returns the number of frames sampled. */
  def decodePpmStreamSampled(b: Array[Byte], k: Int)(emit: Int => Unit): Int =
    decodePpmStreamSampledCounted(b, k)(emit)._1

  /** [[decodePpmStreamSampled]] also reporting the TOTAL frame count
    * from the same validated header walk — (sampled, total). The decode
    * kernels need both, and walking every frame header twice per video
    * (once for the pixel pass, once for [[ppmFrameCount]]) was a
    * redundant hot-path scan (r17 advisory). */
  def decodePpmStreamSampledCounted(b: Array[Byte], k: Int)(emit: Int => Unit): (Int, Int) = {
    val (w, h, offsets) = ppmFrameOffsets(b)
    val sampled = Multimodal.frameOffsets(offsets.length, k)
    sampled.foreach { f =>
      val base = offsets(f)
      var i = 0
      while (i < w * h * 3) { emit(u8(b(base + i))); i += 1 }
    }
    (sampled.length, offsets.length)
  }
}
