package graft

import graft.operators.{MediaCodecs, Multimodal}

class MultimodalSpec extends SparkSpec {

  // --- codec golden bytes -------------------------------------------------

  test("BMP encoder emits a spec-conformant header and zero padding") {
    val w = 3; val h = 2 // stride 12 (9 data + 3 pad bytes per row)
    val b = MediaCodecs.encodeBmp(w, h, i => i) // pixel byte = its own index
    assert(b.length === 54 + 12 * 2)
    assert(b(0) === 'B'.toByte && b(1) === 'M'.toByte)
    // LE32 fields: file size @2, data offset @10, header size @14, dims @18/@22
    def le32(off: Int) = (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
      ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)
    assert(le32(2) === b.length && le32(10) === 54 && le32(14) === 40)
    assert(le32(18) === w && le32(22) === h)
    assert(((b(28) & 0xFF) | ((b(29) & 0xFF) << 8)) === 24, "bpp")
    // bottom-up: first file row is logical row y=1; BGR swizzle:
    // logical pixel (y=1,x=0) has RGB indices 9,10,11 → file bytes B=11,G=10,R=9
    assert(b(54) === 11 && b(55) === 10 && b(56) === 9)
    // row padding bytes are zero
    assert(b(54 + 9) === 0 && b(54 + 10) === 0 && b(54 + 11) === 0)
  }

  test("BMP roundtrip recovers the logical top-down RGB stream (flip + unswizzle + unpad)") {
    // position-dependent values make a missed flip/swizzle/pad visible
    for (w <- Seq(3, 4, 8, 9); h <- Seq(1, 2, 5)) {
      val vals = Array.tabulate(w * h * 3)(i => (i * 31 + 7) % 256)
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      MediaCodecs.decodeBmp(MediaCodecs.encodeBmp(w, h, vals))(out += _)
      assert(out.toSeq === vals.toSeq, s"roundtrip failed at ${w}x$h")
    }
  }

  test("PPM stream walker: fps-tagged headers roundtrip pixels, frame count and dims; untagged default") {
    val (w, h, nf) = (5, 3, 4)
    def fn(f: Int, i: Int) = (f * 41 + i * 13 + 3) % 256
    val tagged = MediaCodecs.encodePpmStream(w, h, nf, 48, fn)
    val plain = MediaCodecs.encodePpmStream(w, h, nf, fn)
    // the tag lives in comments only — pixel payload identical
    assert(MediaCodecs.ppmFrameRate(tagged, 24) === 48)
    assert(MediaCodecs.ppmFrameRate(plain, 24) === 24, "untagged stream must default")
    assert(MediaCodecs.ppmFrameCount(tagged) === nf)
    assert(MediaCodecs.ppmFrameCount(plain) === nf)
    assert(MediaCodecs.ppmDims(tagged) === ((w, h)))
    def pixels(b: Array[Byte]): Seq[Int] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      MediaCodecs.decodePpmStreamSampled(b, Int.MaxValue)(out += _)
      out.toSeq
    }
    assert(pixels(tagged) === pixels(plain), "comments must be invisible to the pixel walk")
    assert(pixels(plain) === (0 until nf).flatMap(f => (0 until w * h * 3).map(fn(f, _))))
  }

  test("fps tag parse covers every header-token gap and bounds the value (r17 advisories)") {
    def bytes(s: String, pix: Int) =
      (s.getBytes("US-ASCII").toSeq ++ Seq.fill(pix)(7.toByte)).toArray
    // netpbm-legal tag positions the old parse silently ignored: after
    // width/height, and after both dims — every gap must now parse
    assert(MediaCodecs.ppmFrameRate(bytes("P6\n4 # fps=48\n4\n255\n", 48), 24) === 48)
    assert(MediaCodecs.ppmFrameRate(bytes("P6\n4 4\n# fps=48\n255\n", 48), 24) === 48)
    // first tag wins when crafted duplicates disagree (deterministic)
    assert(MediaCodecs.ppmFrameRate(bytes("P6\n# fps=48\n4 4\n# fps=30\n255\n", 48), 24) === 48)
    // unrelated comments stay transparent
    assert(MediaCodecs.ppmFrameRate(bytes("P6\n# camera=x\n4 4\n255\n", 48), 24) === 24)
    // the frame walk still accepts all of these header shapes
    assert(MediaCodecs.ppmFrameCount(bytes("P6\n4 4\n# fps=48\n255\n", 48)) === 1)
    // bound: an overlong digit run is a validated error, not a raw
    // NumberFormatException; beyond-cap and zero values likewise
    Seq("# fps=99999999999", s"# fps=${MediaCodecs.MaxPpmFps + 1}", "# fps=0").foreach { tag =>
      val e = intercept[IllegalArgumentException] {
        MediaCodecs.ppmFrameRate(bytes(s"P6\n$tag\n4 4\n255\n", 48), 24)
      }
      assert(e.getMessage.contains("fps tag out of range"), s"$tag: ${e.getMessage}")
    }
  }

  test("WAV encoder/decoder roundtrip signed 16-bit samples; walker skips unknown chunks") {
    val samples = Array.tabulate(777)(i => ((i * 1031) % 65536 - 32768).toShort)
    val enc = MediaCodecs.encodeWav(samples)
    assert(enc.length === 44 + 777 * 2)
    assert(new String(enc, 0, 4, "US-ASCII") === "RIFF")
    assert(new String(enc, 8, 4, "US-ASCII") === "WAVE")
    val out = scala.collection.mutable.ArrayBuffer.empty[Short]
    MediaCodecs.decodeWav(enc)(out += _)
    assert(out.toSeq === samples.toSeq)
    // splice an odd-sized LIST chunk between fmt and data: the walker must
    // skip it word-aligned and still find the samples
    val extra = Array[Byte]('L', 'I', 'S', 'T', 3, 0, 0, 0, 'x', 'y', 'z', 0)
    val spliced = enc.take(36) ++ extra ++ enc.drop(36)
    // fix the RIFF size field
    val riffSize = spliced.length - 8
    spliced(4) = riffSize.toByte; spliced(5) = (riffSize >> 8).toByte
    spliced(6) = (riffSize >> 16).toByte; spliced(7) = (riffSize >> 24).toByte
    val out2 = scala.collection.mutable.ArrayBuffer.empty[Short]
    MediaCodecs.decodeWav(spliced)(out2 += _)
    assert(out2.toSeq === samples.toSeq)
  }

  test("PPM stream: frame count discovered from bytes, k frames sampled in order") {
    val (w, h, nf) = (4, 3, 12)
    val enc = MediaCodecs.encodePpmStream(w, h, nf, (f, i) => (f * 100 + i) % 256)
    assert(enc.length === MediaCodecs.ppmStreamSize(w, h, nf))
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    val sampled = MediaCodecs.decodePpmStreamSampled(enc, 5)(out += _)
    assert(sampled === 5)
    val expectFrames = Multimodal.frameOffsets(nf, 5) // 0,2,4,7,9
    val expected = expectFrames.flatMap(f => Array.tabulate(w * h * 3)(i => (f * 100 + i) % 256))
    assert(out.toSeq === expected.toSeq)
  }

  test("malformed payloads are rejected, not silently decoded") {
    intercept[IllegalArgumentException] {
      MediaCodecs.decodeBmp(MediaCodecs.encodeBmp(4, 4, _ => 0).take(60))(_ => ())
    }
    intercept[IllegalArgumentException] {
      MediaCodecs.decodeWav(MediaCodecs.encodeWav(Array[Short](1, 2, 3)).take(40))(_ => ())
    }
    intercept[IllegalArgumentException] {
      MediaCodecs.decodePpmStreamSampled("P6\n4 4\n255\nxx".getBytes("US-ASCII"), 5)(_ => ())
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeToFeatures(1L, Array[Byte](1, 2, 3, 4))
    }
  }

  // --- pipeline ------------------------------------------------------------

  test("synthesized media has the declared schema and real container magic") {
    val m = Multimodal.synthesizeMedia(spark, sf0001)
    assert(m.schema("payload").dataType.typeName === "binary")
    assert(m.schema("meta").dataType.typeName === "struct")
    val rows = m.collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val payload = r.getAs[Array[Byte]]("payload")
      val fmt = r.getStruct(r.fieldIndex("meta")).getString(0)
      assert(MediaCodecs.sniff(payload) === fmt, s"doc ${r.getLong(0)}")
    }
  }

  test("decoded features match the generating formulas (hand-computed doc)") {
    // doc_id=3 → fmt bmp, w=11, h=11, 363 pixel bytes
    val f = Multimodal.decodeToFeatures(3L,
      MediaCodecs.encodeBmp(11, 11, Multimodal.imgVal(3L, _)))
    val vals = Array.tabulate(11 * 11 * 3)(Multimodal.imgVal(3L, _)).map(_.toLong)
    assert(f.format === "bmp")
    assert(f.payload_bytes === MediaCodecs.bmpSize(11, 11).toLong)
    assert(f.n_values === vals.length.toLong)
    assert(f.sum_values === vals.sum)
    assert(f.min_value === vals.min && f.max_value === vals.max)
    assert(f.checksum === vals.zipWithIndex.map { case (v, i) => (i + 1) * v }.sum)
  }

  test("feature extraction is deterministic and covers all 500 docs") {
    val f1 = Multimodal.mediaFeatures(spark, sf0001).collect()
    val f2 = Multimodal.mediaFeatures(spark, sf0001).collect()
    assert(f1.length === 500)
    assert(f1.map(_.toSeq).toSeq === f2.map(_.toSeq).toSeq)
    f1.foreach { r =>
      assert(Set("bmp", "wav", "vid").contains(r.getAs[String]("format")))
      assert(r.getAs[Long]("payload_bytes") > 0)
      assert(r.getAs[Long]("n_values") > 0)
      assert(r.getAs[Long]("n_sampled_frames") >= 1)
    }
  }

  test("feature extraction stays in the Dataset plan: no RDD hop, scan pruned") {
    val df = Multimodal.mediaFeatures(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    // the old .rdd + createDataFrame shape shows up as "Scan ExistingRDD"
    assert(!plan.contains("ExistingRDD"), "feature extraction must not leave the Dataset plan")
    assert(plan.contains("MapPartitions"), "decode kernel should be a typed mapPartitions")
    // column pruning reaches the parquet scan through the typed boundary:
    // only doc_id is needed (payloads are synthesized, text never read)
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("doc_id") && !scan.contains("text") && !scan.contains("lang"),
      s"scan should read only doc_id, got: $scan")
  }

  test("frame sampling: even spacing, degenerate cases") {
    assert(Multimodal.frameOffsets(0, 5).isEmpty)
    assert(Multimodal.frameOffsets(3, 5).toSeq === Seq(0, 1, 2))
    assert(Multimodal.frameOffsets(30, 5).toSeq === Seq(0, 6, 12, 18, 24))
  }

  test("q128: aHash bit rule — exact mean threshold, tie set, hi/lo packing") {
    // half the grid at 0, half at 100: sum = 3200, threshold 64*g >= 3200
    val half = Array.fill(32)(0L) ++ Array.fill(32)(100L)
    val (hi, lo) = Multimodal.aHashOf(half)
    assert(lo === 0L, "cells 0..31 are below the mean")
    assert(hi === 0xFFFFFFFFL, "cells 32..63 are at or above the mean")
    // a flat grid ties 64*g == sum on every cell: >= keeps ALL bits set
    val (fhi, flo) = Multimodal.aHashOf(Array.fill(64)(7L))
    assert(fhi === 0xFFFFFFFFL && flo === 0xFFFFFFFFL)
    // single-cell packing: only thumb cell 0 below mean → lo bit 0 clear
    val g = Array.fill(64)(10L); g(0) = 0L
    val (shi, slo) = Multimodal.aHashOf(g)
    assert(shi === 0xFFFFFFFFL && slo === 0xFFFFFFFEL)
  }

  test("q128: banded pairs equal the brute-force band-sharing capped near pairs") {
    val hs = Multimodal.imageAHashes(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("hi"), r.getAs[Long]("lo")))
    assert(hs.nonEmpty)
    def bands(hi: Long, lo: Long): Seq[(Int, Long)] =
      Seq(hi >> 16, hi & 0xFFFF, lo >> 16, lo & 0xFFFF).zipWithIndex.map(_.swap)
    // brute-force re-derivation of the operator's contract: per (band_idx,
    // band_val) bucket keep the MaxBucket smallest doc_ids, expand pairs,
    // verify exact XOR-popcount Hamming, dedup across bands
    val expected = hs.flatMap { case (d, hi, lo) => bands(hi, lo).map(b => (b, (d, hi, lo))) }
      .groupBy(_._1).values.flatMap { grp =>
        val members = grp.map(_._2).sortBy(_._1).take(operators.Dedup.MaxBucket)
        for {
          i <- members.indices; j <- (i + 1) until members.length
          (d1, h1, l1) = members(i); (d2, h2, l2) = members(j)
          ham = java.lang.Long.bitCount(h1 ^ h2) + java.lang.Long.bitCount(l1 ^ l2)
          if ham <= Multimodal.ImgHammingMax
        } yield (d1, d2, ham.toLong)
      }.toSet
    val got = Multimodal.imageNearDup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet === expected)
    assert(got.sortBy(p => (p._1, p._2)).toSeq === got.toSeq, "output sorted d1, d2")
  }

  test("q128: identical pixel classes pair at Hamming 0 (sf0.1 — ids span a 768 period)") {
    // the generator repeats pixels AND dims when doc_id ≡ (mod 768), so any
    // corpus whose BMP ids span ≥ 768 carries byte-identical image classes
    // — the 500-doc sf0.001/sf0.01 corpora don't, sf0.1's 5000 ids do
    val sf001 = "/root/testdata/sf0.1"
    val hs = Multimodal.imageAHashes(spark, sf001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("hi"), r.getAs[Long]("lo")))
    val dupClass = hs.map(_._1).groupBy(_ % 768).values.find(_.length >= 2)
    assert(dupClass.nonEmpty, "sf0.01 should contain an identical-image class")
    val Array(a, b) = dupClass.get.sorted.take(2)
    val got = Multimodal.imageNearDup(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.contains((a, b, 0L)), s"identical images $a,$b should pair at distance 0")
    assert(got.forall(_._3 <= Multimodal.ImgHammingMax))
  }

  test("q164: contamination replays from q128's pairs under the q65 split; eval slice fully covered") {
    val sf001 = "/root/testdata/sf0.01"
    def isEval(id: Long): Boolean = math.floorMod(id * 2654435761L, 100L) < 20L
    val rows = Multimodal.mediaContamination(spark, sf001).collect()
    assert(rows.nonEmpty)
    // every output row is an eval image, each exactly once
    assert(rows.forall(r => isEval(r.getLong(0))))
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    // driver replay: contaminated iff a verified near-pair crosses the split
    val pairs = Multimodal.imageNearDup(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = pairs.flatMap { case (a, b) =>
      Seq(a -> b, b -> a)
    }.collect { case (e, t) if isEval(e) && !isEval(t) => e -> t }
      .groupBy(_._1).map { case (e, ts) => e -> ts.map(_._2).min }
    rows.foreach { r =>
      val id = r.getLong(0)
      expect.get(id) match {
        case Some(tm) =>
          assert(r.getBoolean(1), s"image $id should be contaminated")
          assert(r.getLong(2) === tm, s"image $id provenance")
        case None =>
          assert(!r.getBoolean(1), s"image $id should be clean")
          assert(r.getLong(2) === -1L)
      }
    }
    // the corpus's duplicate classes actually cross the split at this SF
    assert(rows.exists(_.getBoolean(1)), "no contamination found — degenerate fixture")
  }

  test("q175: full decontamination — image leg equals q164, prefix chains light the video/audio legs, crafted unit") {
    import spark.implicits._
    val sf001 = "/root/testdata/sf0.01"
    def isEval(id: Long): Boolean = math.floorMod(id * 2654435761L, 100L) < 20L
    // 1. crafted unit through the audit core: contamination only flows
    //    train -> eval, provenance is the SMALLEST matching train id,
    //    and eval-eval links never contaminate
    val e1 = (0L until 100L).find(isEval).get
    val e2 = (e1 + 1 until 200L).find(isEval).get
    val t1 = (0L until 100L).find(!isEval(_)).get
    val t2 = (t1 + 1 until 200L).find(id => !isEval(id) && id > t1).get
    val cat = Seq(e1 -> "bmp", e2 -> "wav", t1 -> "bmp", t2 -> "wav")
      .toDF("doc_id", "modality")
    val unit = Multimodal.mediaContaminationFrom(
      Seq(t2 -> e1, e1 -> t1, e1 -> e2).toDF("d1", "d2"), cat).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getLong(3)))).toMap
    assert(unit.keySet === Set(e1, e2), "output must be exactly the eval slice")
    assert(unit(e1) === ((true, math.min(t1, t2))),
      "direction-symmetric links, smallest train id wins")
    assert(unit(e2) === ((false, -1L)), "an eval-eval link must not contaminate")
    // 2. the bmp leg is q164 verbatim (same pair artifact, and the
    //    modality partition means no cross-modal pair can touch a bmp)
    val q164 = Multimodal.mediaContamination(spark, sf001).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    val full = Multimodal.mediaContaminationFull(spark, sf001).collect()
    val bmp = full.filter(_.getString(1) == "bmp")
      .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getLong(3)))).toMap
    assert(bmp === q164, "image leg drifted from q164")
    // 3. output = the full eval media slice, and the legs q164 could not
    //    see are NON-VACUOUS at this SF: the prefix chains (q147/q173)
    //    supply cross-split links the aligned-length/envelope chains
    //    (q139/q141, both empty here) cannot
    assert(full.forall(r => isEval(r.getLong(0))))
    val evalDocs = Multimodal.mediaTable(spark, sf001).select("doc_id")
      .collect().map(_.getLong(0)).filter(isEval)
    assert(full.map(_.getLong(0)).sorted.toSeq === evalDocs.sorted.toSeq)
    Seq("wav", "vid").foreach { m =>
      assert(full.exists(r => r.getString(1) == m && r.getBoolean(2)),
        s"no contaminated $m at sf0.01 — the $m leg is vacuous")
    }
  }

  test("q133: image clusters match a driver union-find over q128's pairs; survivor is highest-res") {
    val sf001 = "/root/testdata/sf0.01"
    val pairs = Multimodal.imageNearDup(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // driver union-find with min-id labels
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
    }
    val members = parent.keys.toSeq.groupBy(find)
    def area(id: Long): Long = (id % 24 + 8) * (id % 16 + 8)
    val expect = members.toSeq.map { case (root, ids) =>
      val surv = ids.map(id => (area(id), -id)).max
      (root, ids.length.toLong, ids.map(area).sum, -surv._2, surv._1,
        ids.map(area).sum - surv._1)
    }.sortBy(_._1)
    val got = Multimodal.imageDupClusters(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq === expect)
    // non-vacuous: some cluster has >2 members and some survivor beats a
    // lower-resolution member (the policy actually chose)
    assert(got.exists(_._2 > 2))
    assert(got.exists(c => c._6 > 0))
  }

  test("q172: unified split is cluster-atomic across ALL modalities and matches a driver union-find") {
    val sf001 = "/root/testdata/sf0.01"
    def pairsOf(df: org.apache.spark.sql.DataFrame): Array[(Long, Long)] =
      df.select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val text = pairsOf(graft.operators.Dedup.nearDupJaccard(spark, sf001))
    val img = pairsOf(Multimodal.imageNearDup(spark, sf001))
    val vid = pairsOf(Multimodal.videoNearDup(spark, sf001))
    val aud = pairsOf(Multimodal.audioNearDup(spark, sf001))
    assert(text.nonEmpty && img.nonEmpty, "fixture must carry text AND media duplicates")
    // driver union-find over the UNION of all four pair graphs
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    (text ++ img ++ vid ++ aud).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
    }
    val expectComp = parent.keys.map(k => k -> find(k)).toMap
    val got = Multimodal.mediaSafeSplit(spark, sf001).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getString(2)))
    // 1. comp ids match the unified closure exactly (null ⇔ unclustered)
    got.foreach { case (id, comp, _) =>
      assert(comp === expectComp.get(id), s"doc $id unified component") }
    // 2. the split is decided once per unified cluster: every clustered
    //    doc's split follows the root-hash formula, so members — across
    //    modalities — can never straddle a boundary
    got.collect { case (id, Some(c), sp) =>
      val hv = java.lang.Math.floorMod(c * 2654435761L + 17L, 100L)
      val want = if (hv < 80) "train" else if (hv < 90) "val" else "test"
      assert(sp === want, s"doc $id split not cluster-root-driven")
    }
    // 3. the unified graph BRIDGES modalities somewhere on this fixture:
    //    some text-clustered doc merged with a media cluster (else the
    //    query would be vacuously q89) — and q89 disagrees on its comp
    val q89 = graft.operators.Dedup.clusterSafeSplit(spark, sf001).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getString(2))).toMap
    val textDocs = text.flatMap(p => Seq(p._1, p._2)).toSet
    val mediaDocs = (img ++ vid ++ aud).flatMap(p => Seq(p._1, p._2)).toSet
    assert((textDocs & mediaDocs).nonEmpty, "fixture has no cross-modal overlap")
    // 4. docs in NO cluster keep q82's fallback — identical to q89's row
    got.filter(_._2.isEmpty).foreach { case (id, _, sp) =>
      assert(q89(id)._1.isEmpty, s"doc $id clustered in q89 but not unified")
      assert(sp === q89(id)._2, s"doc $id fallback split drifted from q89")
    }
  }

  test("q173/q174: clipped audio flips q141-reject to a direction verdict; ruined window rejects; frozen-index increment probes") {
    import spark.implicits._
    val W = Multimodal.AudioPrefixWindowSamples
    // a CORPUS-side wav (doc_id % 10 != 9) long enough that the source
    // has >2 full windows (else the clip verdict degenerates to mutual)
    val src = Multimodal.mediaTable(spark, sf0001)
      .where(s"meta.format = 'wav' AND doc_id % 10 <> 9 AND doc_id % 2000 + 500 >= ${3 * W + 1}")
      .orderBy("doc_id").limit(1).collect().head
    val srcId = src.getLong(0)
    val payload = src.getAs[Array[Byte]]("payload")
    val samples = scala.collection.mutable.ArrayBuffer.empty[Short]
    MediaCodecs.decodeWav(payload)(samples += _)
    assert(samples.length > 2 * W, "fixture source too short")
    // clip: 2 full windows + a 128-sample partial tail — the tail is
    // DROPPED by the full-window rule (it carries different mass than
    // the source's window 2 and would poison the last comparison)
    val clipId = 900009L // % 10 = 9: a legitimate crawl-batch id too
    val clip = MediaCodecs.encodeWav(samples.take(2 * W + W / 2).toArray)
    // 1. the FLIP's reject half: q141's whole-track equal-mass envelope
    //    renormalizes under clipping — the dedup keys differ, so the
    //    clip is invisible to the q141/q145 exact-key machinery
    val sSig = Multimodal.audioSignature(srcId, payload)
    val cSig = Multimodal.audioSignature(clipId, clip)
    assert((sSig.sig_hi, sSig.sig_lo) !== ((cSig.sig_hi, cSig.sig_lo)),
      "whole-track envelope unexpectedly survived the clip — fixture broken")
    // 2. q173 unit: same pair verifies as clip-contained-in-source at
    //    Hamming 0 over the aligned 2-window prefix
    val out = Multimodal.prefixContainment(Multimodal.Windows, Multimodal.audioWindowTableOf(
      Seq((srcId, payload), (clipId, clip)).toDF("doc_id", "payload"))).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(0) === srcId && r.getLong(1) === clipId)
    assert(r.getLong(2) === samples.length.toLong / W && r.getLong(3) === 2L)
    assert(r.getLong(4) === 2L && r.getLong(5) === 0L && r.getLong(6) === 0L)
    assert(r.getString(7) === "d2_in_d1")
    // 3. per-window cap is a MAX, not an average: silencing half of the
    //    clip's window 1 (window 0 untouched, so the candidate still
    //    forms) must reject the pair outright
    val bad = samples.take(2 * W + W / 2).toArray
    java.util.Arrays.fill(bad, W, W + W / 2, 0.toShort)
    val badOut = Multimodal.prefixContainment(Multimodal.Windows, Multimodal.audioWindowTableOf(
      Seq((srcId, payload), (clipId, MediaCodecs.encodeWav(bad)))
        .toDF("doc_id", "payload"))).collect()
    assert(badOut.isEmpty, "ruined window must fail the per-window Hamming cap")
    // 4. q174: the clip as a crawl batch probes the FROZEN corpus index
    //    and lands contained in its corpus source, batch side as d1
    val inc = Multimodal.audioPrefixIncrementalOf(spark, sf0001,
      Seq((clipId, clip)).toDF("doc_id", "payload")).collect()
    val hit = inc.filter(x => x.getLong(0) === clipId && x.getLong(1) === srcId)
    assert(hit.length === 1 && hit.head.getString(7) === "d1_in_d2")
  }

  test("q176: a resampled+clipped copy — invisible to q141 AND q173 — flips to contained through rate normalization") {
    import spark.implicits._
    val W = Multimodal.AudioPrefixWindowSamples
    val src = Multimodal.mediaTable(spark, sf0001)
      .where(s"meta.format = 'wav' AND doc_id % 2000 + 500 >= ${3 * W + 1}")
      .orderBy("doc_id").limit(1).collect().head
    val srcId = src.getLong(0)
    val payload = src.getAs[Array[Byte]]("payload")
    val samples = scala.collection.mutable.ArrayBuffer.empty[Short]
    MediaCodecs.decodeWav(payload)(samples += _)
    // copy: NN-upsample to 16 kHz (every source sample doubled) then clip
    // to 2 full canonical windows + a partial tail — the adversary the
    // q173 Scaladoc declared out of scope in r15
    val copyId = 7777777L
    val copy = MediaCodecs.encodeWav(
      Array.tabulate((2 * W + W / 2) * 2)(j => samples(j / 2)), 16000)
    // 0. the header parse the normalization stage rides on
    assert(MediaCodecs.wavSampleRate(payload) === 8000)
    assert(MediaCodecs.wavSampleRate(copy) === 16000)
    // 1. invisible to q141: the clip breaks the whole-track envelope
    val sSig = Multimodal.audioSignature(srcId, payload)
    val cSig = Multimodal.audioSignature(copyId, copy)
    assert((sSig.sig_hi, sSig.sig_lo) !== ((cSig.sig_hi, cSig.sig_lo)),
      "envelope unexpectedly survived resample+clip — fixture broken")
    // 2. invisible to q173's RAW kernel: the rate breaks window alignment
    val rawOut = Multimodal.prefixContainment(Multimodal.Windows, Multimodal.audioWindowTableOf(
      Seq((srcId, payload), (copyId, copy)).toDF("doc_id", "payload"))).collect()
    assert(!rawOut.exists(r => Set(r.getLong(0), r.getLong(1)) === Set(srcId, copyId)),
      "raw fixed-window kernel unexpectedly caught the resampled clip")
    // 3. normalization is the IDENTITY on a canonical-rate track (the
    //    property the q176 oracle replays in closed form)
    val normSrc = Multimodal.audioPrefixWindowsNormalizedOf(srcId, payload).toSeq
    val rawSrc = Multimodal.audioPrefixWindowsOf(srcId, payload).toSeq
    assert(normSrc.map(r => (r.wi, r.hi, r.lo)) === rawSrc.map(r => (r.wi, r.hi, r.lo)))
    assert(normSrc.forall(r => r.sample_rate === 8000 && r.n_samples === samples.length.toLong))
    // 4. the FLIP: the normalized table maps the copy back onto its
    //    source's windows — contained at Hamming 0, direction by length
    val normOut = Multimodal.prefixContainment(Multimodal.Windows,
      Multimodal.audioNormWindowTableOf(
        Seq((srcId, payload), (copyId, copy)).toDF("doc_id", "payload"))).collect()
    assert(normOut.length === 1)
    val r = normOut.head
    assert(r.getLong(0) === srcId && r.getLong(1) === copyId)
    assert(r.getLong(2) === samples.length.toLong / W, "source window count")
    assert(r.getLong(3) === 2L, "normalized copy keeps exactly the 2 full clipped windows")
    assert(r.getLong(4) === 2L && r.getLong(5) === 0L && r.getLong(6) === 0L,
      "aligned prefix must verify at Hamming 0")
    assert(r.getString(7) === "d2_in_d1")
    // 5. gated chain: on the all-canonical corpus q176 is q173's verdict
    //    set verbatim with both parsed rates = 8000
    val sf001 = "/root/testdata/sf0.01"
    val got = Multimodal.audioPrefixContainmentNormalized(spark, sf001).collect()
    val raw173 = Multimodal.audioPrefixContainment(spark, sf001).collect()
    assert(got.nonEmpty && got.length === raw173.length)
    got.zip(raw173).foreach { case (a, b) =>
      assert(a.getLong(0) === b.getLong(0) && a.getLong(1) === b.getLong(1))
      assert(a.getInt(2) === 8000 && a.getInt(3) === 8000)
      assert((4 to 8).forall(i => a.getLong(i) === b.getLong(i - 2)))
      assert(a.getString(9) === b.getString(7))
    }
  }

  test("q177: a resampled+clipped INCREMENT — invisible to raw q174 ingest — flips to contained through the frozen normalized index") {
    import spark.implicits._
    val W = Multimodal.AudioPrefixWindowSamples
    // corpus-side source: in the frozen index split (doc_id % 10 <> 9)
    // with enough samples for 3 full windows
    val src = Multimodal.mediaTable(spark, sf0001)
      .where(s"meta.format = 'wav' AND doc_id % 10 <> 9 AND doc_id % 2000 + 500 >= ${3 * W + 1}")
      .orderBy("doc_id").limit(1).collect().head
    val srcId = src.getLong(0)
    val payload = src.getAs[Array[Byte]]("payload")
    val samples = scala.collection.mutable.ArrayBuffer.empty[Short]
    MediaCodecs.decodeWav(payload)(samples += _)
    // the q176 adversary ARRIVING AS AN INCREMENT: NN-upsampled to
    // 16 kHz, clipped to 2 full canonical windows + a partial tail —
    // the r16 verdict's "evades ingest, only the batch audit catches
    // it after the fact" gap
    val copyId = 8888888L
    val copy = MediaCodecs.encodeWav(
      Array.tabulate((2 * W + W / 2) * 2)(j => samples(j / 2)), 16000)
    val batch = Seq((copyId, copy)).toDF("doc_id", "payload")
    // 1. invisible to the RAW ingest path: q174's index signs at the
    //    raw rate, so the resampled increment misses its source
    val raw = Multimodal.audioPrefixIncrementalOf(spark, sf0001, batch).collect()
    assert(!raw.exists(r => r.getLong(0) === copyId && r.getLong(1) === srcId),
      "raw q174 ingest unexpectedly caught the resampled increment")
    // 2. the FLIP: the frozen NORMALIZED index catches it at ingest,
    //    with both parsed rates as provenance
    val out = Multimodal.audioPrefixIncrementalNormalizedOf(spark, sf0001, batch).collect()
    val hit = out.filter(r => r.getLong(0) === copyId && r.getLong(1) === srcId)
    assert(hit.length === 1, s"normalized ingest must catch the increment: ${out.toSeq}")
    val r = hit.head
    assert(r.getInt(2) === 16000 && r.getInt(3) === 8000, "parsed rate provenance")
    assert(r.getLong(4) === 2L, "normalized increment keeps exactly the 2 full clipped windows")
    assert(r.getLong(5) === samples.length.toLong / W, "corpus source window count")
    assert(r.getLong(6) === 2L && r.getLong(7) === 0L && r.getLong(8) === 0L,
      "aligned prefix must verify at Hamming 0")
    assert(r.getString(9) === "d1_in_d2")
    // 3. gated chain: on the all-canonical corpus q177 is q174's
    //    verdict set verbatim with both parsed rates = 8000
    val sf001 = "/root/testdata/sf0.01"
    val got = Multimodal.audioPrefixIncrementalNormalized(spark, sf001).collect()
    val raw174 = Multimodal.audioPrefixIncremental(spark, sf001).collect()
    assert(got.nonEmpty && got.length === raw174.length)
    got.zip(raw174).foreach { case (a, b) =>
      assert(a.getLong(0) === b.getLong(0) && a.getLong(1) === b.getLong(1))
      assert(a.getInt(2) === 8000 && a.getInt(3) === 8000)
      assert((4 to 8).forall(i => a.getLong(i) === b.getLong(i - 2)))
      assert(a.getString(9) === b.getString(7))
    }
  }

  test("q178: a re-timed (48 fps frame-doubled) truncated re-encode — invisible to q139 AND raw q147 — flips to contained through time normalization") {
    import spark.implicits._
    // corpus source with >= 4 frames and real inter-frame motion: every
    // consecutive dense-frame Hamming must exceed the per-frame cap, so
    // the raw misaligned comparison (re-encode frame 2t+1 vs source
    // frame t+1) cannot pass by luck
    val cands = Multimodal.mediaTable(spark, sf0001)
      .where("meta.format = 'vid' AND meta.n_frames >= 4")
      .select("doc_id", "payload", "meta.width", "meta.height", "meta.n_frames")
      .orderBy("doc_id").limit(12).collect()
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    // q139's 5-point sampling can coincidentally land the re-encode on
    // its source's exact sampled frames for some frame counts (nf = 6:
    // offsets(6,5) = [0..4] and offsets(10,5)/2 = [0..4]) — there q139
    // legitimately sees the class. The adversary of interest is a
    // source where the sampling MISALIGNS, so select for that
    // explicitly alongside the per-frame motion requirement.
    def q139Evades(src: Seq[(Long, Long)], fix: Seq[(Long, Long)]): Boolean = {
      val so = Multimodal.frameOffsets(src.length, 5)
      val fo = Multimodal.frameOffsets(fix.length, 5)
      so.length != fo.length ||
        so.zip(fo).exists { case (a, b) => ham(src(a), fix(b)) > Multimodal.ImgHammingMax }
    }
    val pick = cands.find { row =>
      val hs = Multimodal.videoFrameHashSeqNormalized(
        row.getLong(0), row.getAs[Array[Byte]]("payload")).toSeq.map(r => (r.hi, r.lo))
      val doubled = hs.take(hs.length - 1).flatMap(x => Seq(x, x))
      hs.sliding(2).forall {
        case Seq(a, b) => ham(a, b) > Multimodal.ImgHammingMax
        case _ => true
      } && q139Evades(hs, doubled)
    }.getOrElse(fail("no high-motion sampling-misaligned source at this SF — fixture assumptions broken"))
    val (srcId, payload) = (pick.getLong(0), pick.getAs[Array[Byte]]("payload"))
    val (w, h, nf) = (pick.getInt(2), pick.getInt(3), pick.getInt(4))
    // the re-timed clip: first nf-1 source frames transcoded 24→48 fps
    // (NN re-timing doubles every frame), tagged in the header,
    // regenerated from the pixel formula
    val k = nf - 1
    val fixId = 9999999L
    val fix = MediaCodecs.encodePpmStream(w, h, 2 * k, 48,
      (f, i) => Multimodal.vidVal(srcId, f / 2, i))
    // 0. the header tag parse the normalization stage rides on; the
    //    frame walk must survive the comment lines
    assert(MediaCodecs.ppmFrameRate(fix, Multimodal.VideoCanonicalFps) === 48)
    assert(MediaCodecs.ppmFrameRate(payload, Multimodal.VideoCanonicalFps) === 24)
    assert(MediaCodecs.ppmFrameCount(fix) === 2 * k)
    assert(MediaCodecs.ppmDims(fix) === ((w, h)))
    // raw dense + sampled-5 rows through the real decode (comments and
    // all), for the two raw-kernel invisibility legs
    def denseHashes(p: Array[Byte]): Seq[(Long, Long)] = {
      val fb = w * h * 3
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
      var cur: Array[Int] = null; var idx = 0
      MediaCodecs.decodePpmStreamSampled(p, Int.MaxValue) { v =>
        if (idx % fb == 0) { cur = new Array[Int](fb); frames += cur }
        cur(idx % fb) = v; idx += 1
      }
      frames.toSeq.map(vals => Multimodal.aHashOf(Multimodal.grayGridOf(vals, w, h)))
    }
    def rows(id: Long, hs: Seq[(Long, Long)]) =
      hs.zipWithIndex.map { case ((hi, lo), i) =>
        (id, hs.length.toLong, hs.length.toLong, i, hi, lo)
      }
    val srcDense = denseHashes(payload)
    val fixDense = denseHashes(fix)
    assert(fixDense === srcDense.take(k).flatMap(x => Seq(x, x)),
      "48 fps re-encode must be the frame-doubled source prefix")
    // 1a. invisible to q139: sampled-position alignment compares
    //     different source frames
    def sampled(id: Long, hs: Seq[(Long, Long)]) = {
      val off = Multimodal.frameOffsets(hs.length, 5)
      off.toSeq.zipWithIndex.map { case (f, i) =>
        (id, hs.length.toLong, off.length.toLong, i, hs(f)._1, hs(f)._2)
      }
    }
    val q139pairs = Multimodal.videoNearDupOf(
      (sampled(srcId, srcDense) ++ sampled(fixId, fixDense))
        .toDF("doc_id", "n_frames", "ns", "si", "hi", "lo")).collect()
    assert(!q139pairs.exists(r => Set(r.getLong(0), r.getLong(1)) === Set(srcId, fixId)),
      "q139 unexpectedly caught the re-timed re-encode")
    // 1b. invisible to RAW q147: frame 0 matches (candidate forms) but
    //     the misaligned prefix fails the per-frame cap
    val rawOut = Multimodal.prefixContainment(Multimodal.Frames,
      (rows(srcId, srcDense) ++ rows(fixId, fixDense))
        .toDF("doc_id", "n_frames", "ns", "si", "hi", "lo")).collect()
    assert(!rawOut.exists(r => Set(r.getLong(0), r.getLong(1)) === Set(srcId, fixId)),
      "raw prefix kernel unexpectedly caught the re-timed re-encode")
    // 2. normalization is the IDENTITY on an untagged canonical stream
    //    (the property the q178 oracle replays in closed form)
    val normSrc = Multimodal.videoFrameHashSeqNormalized(srcId, payload).toSeq
    assert(normSrc.map(r => (r.hi, r.lo)) === srcDense)
    assert(normSrc.forall(r => r.fps === Multimodal.VideoCanonicalFps
      && r.n_frames === nf.toLong && r.ns === nf.toLong))
    // 3. the FLIP: time normalization maps the re-encode back onto its
    //    source's frames — contained at Hamming 0, direction by length
    val normOut = Multimodal.prefixContainment(Multimodal.Frames, Multimodal.videoNormFrameTableOf(
      Seq((srcId, payload), (fixId, fix)).toDF("doc_id", "payload"))).collect()
    assert(normOut.length === 1)
    val n = normOut.head
    assert(n.getLong(0) === srcId && n.getLong(1) === fixId)
    assert(n.getLong(2) === nf.toLong && n.getLong(3) === k.toLong)
    assert(n.getLong(4) === k.toLong && n.getLong(5) === 0L && n.getLong(6) === 0L,
      "normalized prefix must verify at Hamming 0")
    assert(n.getString(7) === "d2_in_d1")
    // 4. gated chain: on the all-untagged corpus q178 is q147's verdict
    //    set verbatim with both fps tags = 24
    val sf001 = "/root/testdata/sf0.01"
    val got = Multimodal.videoPrefixContainmentTimeNormalized(spark, sf001).collect()
    val raw147 = Multimodal.videoPrefixContainment(spark, sf001).collect()
    assert(got.length === raw147.length)
    got.zip(raw147).foreach { case (a, b) =>
      assert(a.getLong(0) === b.getLong(0) && a.getLong(1) === b.getLong(1))
      assert(a.getInt(2) === 24 && a.getInt(3) === 24)
      assert((4 to 8).forall(i => a.getLong(i) === b.getLong(i - 2)))
      assert(a.getString(9) === b.getString(7))
    }
  }

  test("q179: a re-timed clipped re-encode ARRIVING AS AN INCREMENT — invisible to raw q148's ingest probe — is caught by the normalized index") {
    import spark.implicits._
    // corpus-side source (doc_id outside the q144 batch split, so it
    // sits in BOTH frozen indexes) with >= 4 frames and real per-frame
    // motion, q178's fixture conditions otherwise
    val cands = Multimodal.mediaTable(spark, sf0001)
      .where(s"meta.format = 'vid' AND meta.n_frames >= 4 AND " +
        s"doc_id % ${Multimodal.VideoBatchMod} <> ${Multimodal.VideoBatchResidue}")
      .select("doc_id", "payload", "meta.width", "meta.height", "meta.n_frames")
      .orderBy("doc_id").limit(12).collect()
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val pick = cands.find { row =>
      val hs = Multimodal.videoFrameHashSeqNormalized(
        row.getLong(0), row.getAs[Array[Byte]]("payload")).toSeq.map(r => (r.hi, r.lo))
      hs.sliding(2).forall {
        case Seq(a, b) => ham(a, b) > Multimodal.ImgHammingMax
        case _ => true
      }
    }.getOrElse(fail("no high-motion corpus-side source at this SF — fixture assumptions broken"))
    val (srcId, payload) = (pick.getLong(0), pick.getAs[Array[Byte]]("payload"))
    val (w, h, nf) = (pick.getInt(2), pick.getInt(3), pick.getInt(4))
    // the increment: first nf-1 source frames transcoded 24→48 fps
    // (NN re-timing doubles every frame), tagged in the header
    val k = nf - 1
    val fixId = 9999998L
    val fix = MediaCodecs.encodePpmStream(w, h, 2 * k, 48,
      (f, i) => Multimodal.vidVal(srcId, f / 2, i))
    val batch = Seq((fixId, fix)).toDF("doc_id", "payload")
    // 1. the r17-verdict gap, reproduced: raw q148 probes the RAW frame
    //    index — frame 0 still matches (the doubled prefix opens on the
    //    source's frame 0, so a candidate forms), but the misaligned
    //    raw prefix fails the per-frame cap and the increment sails
    //    through ingest unflagged
    val rawOut = Multimodal.videoPrefixIncrementalOf(spark, sf0001, batch).collect()
    assert(!rawOut.exists(r => r.getLong(0) === fixId && r.getLong(1) === srcId),
      "raw q148 unexpectedly caught the re-timed increment")
    // 2. the FLIP: the normalized index re-times the increment onto its
    //    source's frames — caught AT INGEST, Hamming 0, with parsed
    //    time-base provenance on both sides
    val normOut = Multimodal.videoPrefixIncrementalTimeNormalizedOf(spark, sf0001, batch)
      .collect().filter(r => r.getLong(0) === fixId && r.getLong(1) === srcId)
    assert(normOut.length === 1,
      "normalized ingest probe must flag the re-timed increment against its source")
    val n = normOut.head
    assert(n.getInt(2) === 48 && n.getInt(3) === 24, "parsed time-base provenance")
    assert(n.getLong(4) === k.toLong && n.getLong(5) === nf.toLong)
    assert(n.getLong(6) === k.toLong && n.getLong(7) === 0L && n.getLong(8) === 0L,
      "normalized prefix must verify at Hamming 0")
    assert(n.getString(9) === "d1_in_d2")
    // 3. gated chain: on the all-untagged corpus q179 is q148's verdict
    //    set verbatim with both fps tags = 24 (the closed form the
    //    oracle replays; empty==empty at gate SF is still the pin — the
    //    non-vacuous leg is the crafted increment above)
    val sf001 = "/root/testdata/sf0.01"
    val got = Multimodal.videoPrefixIncrementalTimeNormalized(spark, sf001).collect()
    val raw148 = Multimodal.videoPrefixIncremental(spark, sf001).collect()
    assert(got.length === raw148.length)
    got.zip(raw148).foreach { case (a, b) =>
      assert(a.getLong(0) === b.getLong(0) && a.getLong(1) === b.getLong(1))
      assert(a.getInt(2) === 24 && a.getInt(3) === 24)
      assert((4 to 8).forall(i => a.getLong(i) === b.getLong(i - 2)))
      assert(a.getString(9) === b.getString(7))
    }
  }

  test("prefix family: the eight persisted artifacts keep their paths, subdirectories and parquet schemas") {
    // a fresh copy of the sf0.001 documents: its directory name and
    // fingerprint key paths no earlier build wrote, so every artifact
    // checked here is built by the code under test, never read stale
    val dir = java.nio.file.Files.createTempDirectory("graft-prefix-artifacts")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf0001, "documents.parquet"),
      dir.resolve("documents.parquet"))
    try {
      val frames = "doc_id BIGINT,n_frames BIGINT,ns BIGINT,si INT,hi BIGINT,lo BIGINT"
      val normFrames = "doc_id BIGINT,fps INT,n_frames BIGINT,ns BIGINT,si INT,hi BIGINT,lo BIGINT"
      val windows = "doc_id BIGINT,n_samples BIGINT,nw BIGINT,wi BIGINT,hi BIGINT,lo BIGINT"
      val normWindows =
        "doc_id BIGINT,sample_rate INT,n_samples BIGINT,nw BIGINT,wi BIGINT,hi BIGINT,lo BIGINT"
      val bands = "band_idx INT,band_val BIGINT,doc_id BIGINT"
      // (artifact name, fingerprint key, subdirectory, schema)
      val expected = Seq(
        ("vid_frames", 147, "", frames),
        ("vid_prefix_idx", 148, "/bands", bands), ("vid_prefix_idx", 148, "/frames", frames),
        ("aud_windows", 173, "", windows),
        ("aud_prefix_idx", 174, "/bands", bands), ("aud_prefix_idx", 174, "/windows", windows),
        ("aud_norm_windows", 176, "", normWindows),
        ("aud_norm_prefix_idx", 177, "/bands", bands),
        ("aud_norm_prefix_idx", 177, "/windows", normWindows),
        ("vid_norm_frames", 178, "", normFrames),
        ("vid_norm_prefix_idx", 179, "/bands", bands),
        ("vid_norm_prefix_idx", 179, "/frames", normFrames))
      // each incremental query builds its chain's index from its chain's
      // corpus table, so these four build all eight artifacts
      Seq[(org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
        Multimodal.videoPrefixIncremental, Multimodal.audioPrefixIncremental,
        Multimodal.audioPrefixIncrementalNormalized,
        Multimodal.videoPrefixIncrementalTimeNormalized)
        .foreach(q => q(spark, dir.toString).collect())
      expected.foreach { case (name, key, sub, ddl) =>
        val path = FingerprintReference.path(dir.toString, name, key) + sub
        assert(new java.io.File(path, "_SUCCESS").exists(), s"$path was not built")
        assert(spark.read.parquet(path).schema.toDDL === ddl, path)
      }
    } finally {
      cleanupWarehouseFor(dir.toString)
      java.nio.file.Files.delete(dir.resolve("documents.parquet"))
      java.nio.file.Files.delete(dir)
    }
  }

  test("q134: video signature kernel matches a generator recompute; static semantics") {
    val out = Multimodal.videoSignatures(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(id % 3 === 2)
      val nf = (id % 30 + 1).toInt
      val w = Multimodal.imgW(id); val h = Multimodal.imgH(id)
      assert(r.getLong(1) === nf.toLong, s"n_frames($id)")
      val sampled = Multimodal.frameOffsets(nf, 5)
      assert(r.getLong(2) === sampled.length.toLong, s"n_sampled($id)")
      // recompute per-frame hashes straight from the pixel generator
      val hashes = sampled.map { f =>
        val vals = Array.tabulate(w * h * 3)(i => Multimodal.vidVal(id, f, i))
        Multimodal.aHashOf(Multimodal.grayGridOf(vals, w, h))
      }
      val cksHi = hashes.zipWithIndex.map { case ((hi, _), i) => (i + 1) * hi }.sum
      val cksLo = hashes.zipWithIndex.map { case ((_, lo), i) => (i + 1) * lo }.sum
      assert(r.getLong(3) === cksHi && r.getLong(4) === cksLo, s"checksums($id)")
      val hams = hashes.sliding(2).collect { case Array((h1, l1), (h2, l2)) =>
        (java.lang.Long.bitCount(h1 ^ h2) + java.lang.Long.bitCount(l1 ^ l2)).toLong
      }.toSeq
      if (hams.isEmpty) {
        assert(r.isNullAt(5) && r.isNullAt(6) && r.isNullAt(7), s"1-frame stats($id)")
        assert(r.getBoolean(8), s"single-frame stream must be low_motion($id)")
      } else {
        assert(r.getLong(5) === hams.min && r.getLong(6) === hams.max, s"ham range($id)")
        val mean = 100L * hams.sum / hams.length
        assert(r.getLong(7) === mean, s"ham mean($id)")
        assert(r.getBoolean(8) === (mean < Multimodal.LowMotionX100), s"low_motion($id)")
      }
    }
    // the fixture exercises both branches: single-frame (static) streams
    // exist (doc_id % 30 == 0) and multi-frame active streams dominate
    assert(out.exists(_.getBoolean(8)) && out.exists(!_.getBoolean(8)))
  }

  test("q139/q140: crafted fixtures — re-encode collides, bit flips verify, misalignment and ruined frames reject") {
    import spark.implicits._
    // base video 1 (nf=10): three sampled frames with distinct hashes;
    // 2 = exact re-encode twin, longer source (nf=12);
    // 3 = 2 bits flipped per frame (nf=9) — must band-collide (hi bands
    //     untouched) and verify at ham 2/frame;
    // 4 = frame 1 ruined (20 bits) — candidates exist via frames 0/2 but
    //     the per-frame cap must reject the pair;
    // 5 = truncated to 2 sampled frames — band-collides, alignment rejects
    val f0 = (0x1234567890ABCDEFL, 0x0F0F0F0F0F0F0F0FL)
    val f1 = (0x0011223344556677L, 0x8899AABBCCDDEEFFL)
    val f2 = (0x7777777788888888L, 0x1111111122222222L)
    def rows(id: Long, nf: Long, hs: Seq[(Long, Long)]) =
      hs.zipWithIndex.map { case ((hi, lo), i) =>
        (id, nf, hs.length.toLong, i, hi, lo)
      }
    val fixture = (
      rows(1L, 10L, Seq(f0, f1, f2)) ++
      rows(2L, 12L, Seq(f0, f1, f2)) ++
      rows(3L, 9L, Seq((f0._1, f0._2 ^ 3L), (f1._1, f1._2 ^ 5L), (f2._1, f2._2 ^ 6L))) ++
      rows(4L, 10L, Seq(f0, (f1._1, f1._2 ^ 0xFFFFFL), f2)) ++
      rows(5L, 10L, Seq(f0, f1))
    ).toDF("doc_id", "n_frames", "ns", "si", "hi", "lo")
    val pairs = Multimodal.videoNearDupOf(fixture).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(pairs.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"verified pairs: ${pairs.keySet}")
    assert(pairs((1L, 2L)) === ((3L, 0L, 0L)), "re-encode twin at distance 0")
    assert(pairs((1L, 3L)) === ((3L, 6L, 2L)), "2 flipped bits per frame verify")
    // cluster fold: {1,2,3} one component labeled by its min member;
    // survivor = most total frames (doc 2, nf=12); 4 and 5 never clustered
    val clusters = Multimodal.videoDupClustersOf(fixture).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(clusters.toSeq === Seq((1L, 3L, 31L, 2L, 12L, 19L)),
      s"clusters: ${clusters.toSeq}")
  }

  test("q147: truncated copy flips from q139-reject to a direction verdict; real-codec prefix leg; sf0.1 classes directional") {
    import spark.implicits._
    // fixture: A (6 frames, distinct hashes), B = A's first 3 frames
    // (the clipped re-encode q139 rejects BY DESIGN), C = equal-length
    // twin of A, D = B with a ruined middle frame (candidates via frame
    // 0, per-frame cap must reject)
    val hs = Seq(
      (0x1234567890ABCDEFL, 0x0F0F0F0F0F0F0F0FL),
      (0x0011223344556677L, 0x8899AABBCCDDEEFFL),
      (0x7777777788888888L, 0x1111111122222222L),
      (0x5A5A5A5A5A5A5A5AL, 0x3C3C3C3C3C3C3C3CL),
      (0x0123456701234567L, 0x89AB89AB89AB89ABL),
      (0x4444333322221111L, 0x6666555577770000L))
    def rows(id: Long, seq: Seq[(Long, Long)]) =
      seq.zipWithIndex.map { case ((hi, lo), i) =>
        (id, seq.length.toLong, seq.length.toLong, i, hi, lo)
      }
    val fixture = (rows(1L, hs) ++ rows(2L, hs.take(3)) ++ rows(3L, hs) ++
      rows(4L, Seq(hs(0), (hs(1)._1, hs(1)._2 ^ 0xFFFFFL), hs(2))))
      .toDF("doc_id", "n_frames", "ns", "si", "hi", "lo")
    // q139 rejects the truncation (different sampled counts)…
    val q139pairs = Multimodal.videoNearDupOf(fixture).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!q139pairs.contains((1L, 2L)), "q139 must reject the clipped copy")
    // …q147 flips it to a direction verdict
    val out = Multimodal.prefixContainment(Multimodal.Frames, fixture).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6), r.getString(7))).toMap
    assert(out.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L)), s"verdicts: ${out.keySet}")
    assert(out((1L, 2L)) === ((6L, 3L, 3L, 0L, "d2_in_d1")),
      "the clipped copy must be contained in its source at distance 0")
    assert(out((1L, 3L))._5 === "mutual", "equal-length twin is mutual")
    assert(out((2L, 3L))._5 === "d1_in_d2")
    // END-TO-END through the real PPM bytes: a 2-frame truncation IS a
    // byte prefix of the 5-frame stream, and the decode→resize→hash
    // kernels must land it as d2_in_d1 at distance 0
    def fn(f: Int, i: Int) = (f * 53 + i * 17 + 9) % 256
    val full = MediaCodecs.encodePpmStream(8, 8, 5, fn)
    val clip = MediaCodecs.encodePpmStream(8, 8, 2, fn)
    assert(java.util.Arrays.equals(full.take(clip.length), clip),
      "the truncated encode must be a literal byte prefix")
    def denseRows(id: Long, payload: Array[Byte]) = {
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
      var cur: Array[Int] = null; var idx = 0
      MediaCodecs.decodePpmStreamSampled(payload, Int.MaxValue) { v =>
        if (idx % 192 == 0) { cur = new Array[Int](192); frames += cur }
        cur(idx % 192) = v; idx += 1
      }
      frames.toSeq.zipWithIndex.map { case (vals, i) =>
        val (hi, lo) = Multimodal.aHashOf(Multimodal.grayGridOf(vals, 8, 8))
        (id, frames.length.toLong, frames.length.toLong, i, hi, lo)
      }
    }
    val byteFixture = (denseRows(10L, full) ++ denseRows(11L, clip))
      .toDF("doc_id", "n_frames", "ns", "si", "hi", "lo")
    val byteOut = Multimodal.prefixContainment(Multimodal.Frames, byteFixture).collect()
    assert(byteOut.length === 1)
    assert(byteOut.head.getLong(0) === 10L && byteOut.head.getLong(1) === 11L
      && byteOut.head.getLong(6) === 0L && byteOut.head.getString(7) === "d2_in_d1")
    // corpus: sf0.1's Δ=768 classes (same pixel formula, different
    // frame counts) are TRUE prefix copies — directional at distance 0;
    // Δ=3840 equal-length classes surface as mutual
    val sf01 = "/root/testdata/sf0.1"
    val corpus = Multimodal.videoPrefixContainment(spark, sf01).collect()
    val cls = corpus.filter(r => r.getLong(1) - r.getLong(0) === 768L && r.getLong(6) === 0L)
    assert(cls.nonEmpty, "768-periodic prefix classes must surface")
    cls.foreach { r =>
      val (n1, n2) = (r.getLong(2), r.getLong(3))
      assert(r.getString(7) ===
        (if (n1 == n2) "mutual" else if (n1 < n2) "d1_in_d2" else "d2_in_d1"))
      assert(r.getLong(4) === math.min(n1, n2), "aligned count is the shorter side")
    }
    assert(corpus.exists(r => r.getLong(1) - r.getLong(0) === 3840L
      && r.getString(7) === "mutual"), "equal-length classes must be mutual")
  }

  test("q148: clipped batch upload probes as contained in its corpus source; sf0.1 splits directionally") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    // corpus-side source with enough frames to clip
    val src = Multimodal.mediaTable(spark, sf0001)
      .where(col("meta.format") === "vid" &&
        pmod(col("doc_id"), lit(Multimodal.VideoBatchMod)) =!= Multimodal.VideoBatchResidue &&
        col("meta.n_frames") >= 4)
      .select("doc_id", "meta.width", "meta.height", "meta.n_frames")
      .limit(1).collect().head
    val (srcId, w, h, nf) = (src.getLong(0), src.getInt(1), src.getInt(2), src.getInt(3))
    // a clipped re-upload: the first nf-2 frames, regenerated from the
    // pixel formula (byte-identical to the stored payload's prefix)
    val clip = MediaCodecs.encodePpmStream(w, h, nf - 2,
      (f, i) => Multimodal.vidVal(srcId, f, i))
    import spark.implicits._
    val batch = Seq((900001L, clip)).toDF("doc_id", "payload")
    val out = Multimodal.videoPrefixIncrementalOf(spark, sf0001, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3),
        r.getLong(6), r.getString(7))).toMap
    assert(out.contains((900001L, srcId)),
      s"clipped upload must hit its corpus source: ${out.keySet}")
    assert(out((900001L, srcId)) === (((nf - 2).toLong, nf.toLong, 0L, "d1_in_d2")),
      "the clip is contained in its source at distance 0")
    // corpus run at sf0.1: batch side only on d1, corpus side only on
    // d2, directions consistent with the frame counts
    val sf01 = "/root/testdata/sf0.1"
    val corpus = Multimodal.videoPrefixIncremental(spark, sf01).collect()
    assert(corpus.nonEmpty, "sf0.1's cross-split 768 classes must produce verdicts")
    corpus.foreach { r =>
      assert(r.getLong(0) % Multimodal.VideoBatchMod === Multimodal.VideoBatchResidue.toLong)
      assert(r.getLong(1) % Multimodal.VideoBatchMod !== Multimodal.VideoBatchResidue.toLong)
      val (n1, n2) = (r.getLong(2), r.getLong(3))
      assert(r.getString(7) ===
        (if (n1 == n2) "mutual" else if (n1 < n2) "d1_in_d2" else "d2_in_d1"))
    }
    assert(corpus.exists(r => r.getLong(6) === 0L && r.getString(7) != "mutual"),
      "true directional prefix copies must appear at distance 0")
  }

  test("q139 corpus: gate-SF output is empty by generator design; sf0.1 carries the real classes") {
    // the generator's video dup classes need doc_id deltas of 3840
    // (lcm of the dims/frame-count periods and the 256 pixel cycle), so
    // the sf0.001 corpus (500 ids) CANNOT contain a true near-pair —
    // pinning emptiness keeps the gate's empty result honest rather than
    // accidental (the sf0.1 leg below is where verdicts exist)
    assert(Multimodal.videoNearDup(spark, sf0001).collect().isEmpty)
    val sf01 = "/root/testdata/sf0.1"
    val out = Multimodal.videoNearDup(spark, sf01).collect()
    assert(out.nonEmpty, "sf0.1's 3840-periodic classes must produce verified pairs")
    // every Δ=3840 aligned class must be found at distance 0 — banding
    // recall on exact copies is certain, not probabilistic
    val exact = out.filter(r => r.getLong(1) - r.getLong(0) === 3840L)
    assert(exact.nonEmpty)
    exact.foreach(r => assert(r.getLong(3) === 0L,
      s"generator class (${r.getLong(0)}, ${r.getLong(1)}) not at distance 0"))
    // and the survivor policy picks the longest member of each cluster
    val sigs = Multimodal.videoSignatures(spark, sf01).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clusters = Multimodal.videoDupClusters(spark, sf01).collect()
    assert(clusters.nonEmpty)
    clusters.take(20).foreach { c =>
      assert(sigs(c.getLong(3)) === c.getLong(4), "survivor_frames must be the catalog value")
    }
  }

  test("q137: identical-class batch images probe as dups of their corpus sibling (sf0.1)") {
    val sf01 = "/root/testdata/sf0.1"
    val out = Multimodal.imageIncrementalDedup(spark, sf01).collect()
    assert(out.nonEmpty)
    val dups = out.filter(_.getString(3) == "dup")
    assert(dups.nonEmpty, "sf0.1's 768-periodic classes must produce corpus hits")
    val hashOf = Multimodal.imageAHashes(spark, sf01).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // status recompute: dup iff some corpus-split image shares the hash
    // (at sf0.1 every 768-class has corpus members, so every batch image
    // is a dup — the 'new' branch is exercised by the sf0.01 gate run,
    // whose 500 ids span no class twice)
    val corpusHashes = hashOf.collect { case (id, h) if id % 10 != 9 => h }.toSet
    out.foreach { r =>
      assert((r.getString(3) == "dup") === corpusHashes.contains(hashOf(r.getLong(0))),
        s"status must match the corpus hash-set recompute: $r")
    }
    dups.foreach { r =>
      assert(r.getLong(4) % 10 !== 9, s"dup_of must come from the corpus split: $r")
      assert(hashOf(r.getLong(0)) === hashOf(r.getLong(4)),
        s"dup_of must share the batch image's perceptual hash: $r")
    }
    out.filter(_.getString(3) == "new").foreach(r => assert(r.isNullAt(4)))
  }

  test("q138: audio signature kernel matches a generator recompute; silence and clipping fixtures") {
    val out = Multimodal.audioSignatures(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(id % 3 === 1)
      val n = (id % 2000 + 500).toInt
      assert(r.getLong(1) === n.toLong, s"n_samples($id)")
      val abs = Array.tabulate(n)(i => math.abs(Multimodal.wavVal(id, i).toInt).toLong)
      val e = new Array[Long](64)
      abs.zipWithIndex.foreach { case (v, i) => e(i * 64 / n) += v }
      val (hi, lo) = Multimodal.aHashOf(e)
      assert(r.getLong(2) === hi && r.getLong(3) === lo, s"signature($id)")
      assert(r.getLong(4) === abs.sum && r.getLong(5) === abs.max, s"mass($id)")
      assert(r.getLong(6) === abs.sum / n, s"mean($id)")
      assert(r.getLong(7) === abs.count(_ >= 32767L).toLong, s"clipped($id)")
      assert(r.getBoolean(8) === (abs.sum / n < Multimodal.LowEnergyAbs), s"low_energy($id)")
      assert(!r.getBoolean(9), s"corpus track $id flagged short")
    }
    // crafted edge tracks through the kernel directly: near-silence flags
    // low_energy; rail-pinned samples count as clipped on BOTH rails
    val quiet = Multimodal.audioSignature(1L,
      MediaCodecs.encodeWav(Array.fill[Short](200)(3)))
    assert(quiet.low_energy && quiet.n_clipped === 0L && quiet.mean_abs === 3L)
    assert(!quiet.short_track)
    val railed = Multimodal.audioSignature(2L,
      MediaCodecs.encodeWav(Array.tabulate[Short](128)(i =>
        if (i < 4) Short.MaxValue else if (i < 7) Short.MinValue else 100)))
    assert(railed.n_clipped === 7L, "both rails must count as clipped")
    assert(!railed.low_energy === (railed.mean_abs >= Multimodal.LowEnergyAbs))
    // damaged-input contract (r13): short and empty tracks degrade with
    // the flag set instead of crashing the stage from mapPartitions
    val short = Multimodal.audioSignature(3L,
      MediaCodecs.encodeWav(Array.tabulate[Short](10)(i => (100 * (i + 1)).toShort)))
    assert(short.short_track && short.n_samples === 10L)
    assert(short.total_abs === 5500L && short.mean_abs === 550L,
      "stats still exact on a short track")
    val empty = Multimodal.audioSignature(4L, MediaCodecs.encodeWav(Array.empty[Short]))
    assert(empty.short_track && empty.low_energy && empty.n_samples === 0L
      && empty.sig_hi === 0L && empty.sig_lo === 0L && empty.mean_abs === 0L,
      "empty payload yields the all-zero flagged row, not a crash")
  }

  test("q141/q142: resampled copy collides at distance 0; flips verify; ruined hash rejects; survivor = longest") {
    import spark.implicits._
    // END-TO-END re-encode case through the real WAV kernel: a shaped
    // waveform and its 2x-upsampled copy (every sample doubled — a
    // different n_samples the byte/content hash can never match) produce
    // IDENTICAL envelopes: window sums double uniformly, the
    // mean-threshold bits are scale-invariant, distance 0.
    val base = Array.tabulate[Short](640)(i =>
      ((math.sin(i / 20.0) * 12000).toInt + (i % 7) * 311).toShort)
    val resampled = base.flatMap(s => Array(s, s))
    val sigA = Multimodal.audioSignature(1L, MediaCodecs.encodeWav(base))
    val sigB = Multimodal.audioSignature(2L, MediaCodecs.encodeWav(resampled))
    assert(sigA.n_samples === 640L && sigB.n_samples === 1280L)
    assert((sigA.sig_hi, sigA.sig_lo) === ((sigB.sig_hi, sigB.sig_lo)),
      "uniform resampling must leave the envelope hash bit-identical")
    // plus a 2-bit near copy (in band-recall range), a 20-bit ruined
    // copy (bands may collide via untouched halves; verify must reject),
    // and an unrelated constant track
    val sigs = Seq(
      (1L, sigA.sig_hi, sigA.sig_lo, sigA.n_samples),
      (2L, sigB.sig_hi, sigB.sig_lo, sigB.n_samples),
      (3L, sigA.sig_hi, sigA.sig_lo ^ 3L, 900L),
      (4L, sigA.sig_hi, sigA.sig_lo ^ 0xFFFFFL, 640L),
      (5L, ~sigA.sig_hi, ~sigA.sig_lo, 640L))
      .toDF("doc_id", "sig_hi", "sig_lo", "n_samples")
    val pairs = Multimodal.audioNearDupOf(sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(pairs.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L)), s"pairs: ${pairs.keySet}")
    assert(pairs((1L, 2L)) === ((0L, 640L, 1280L)),
      "the resampled pair must report distance 0 with BOTH lengths")
    assert(pairs((1L, 3L))._1 === 2L)
    // clusters: {1,2,3}, survivor = the longest capture (doc 2, 1280)
    val clusters = Multimodal.audioDupClustersOf(sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(clusters.toSeq === Seq((1L, 3L, 2820L, 2L, 1280L, 1540L)),
      s"clusters: ${clusters.toSeq}")
  }

  test("q141 corpus: gate-SF output empty (no generator class); sf0.1 pairs are verified and symmetric-consistent") {
    assert(Multimodal.audioNearDup(spark, sf0001).collect().isEmpty,
      "no exact audio class fits inside 500 ids — gate emptiness is by design")
    val sf01 = "/root/testdata/sf0.1"
    val out = Multimodal.audioNearDup(spark, sf01).collect()
    assert(out.nonEmpty, "sf0.1's near-uniform long envelopes must produce verified pairs")
    val sigs = Multimodal.audioSignatures(spark, sf01).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(1))).toMap
    out.take(50).foreach { r =>
      val (h1, l1, n1) = sigs(r.getLong(0))
      val (h2, l2, n2) = sigs(r.getLong(1))
      val ham = java.lang.Long.bitCount(h1 ^ h2) + java.lang.Long.bitCount(l1 ^ l2)
      assert(r.getLong(2) === ham.toLong && ham <= Multimodal.ImgHammingMax,
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) hamming recompute")
      assert(r.getLong(3) === n1 && r.getLong(4) === n2)
    }
  }

  test("q96: resize kernel matches a generator-formula recompute of the sampled grid") {
    val out = Multimodal.mediaThumbnails(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(id % 3 === 0) // BMP docs only
      val w = Multimodal.imgW(id); val h = Multimodal.imgH(id)
      assert(r.getLong(1) === w.toLong && r.getLong(2) === h.toLong)
      // recompute the 8x8 nearest-neighbor gray grid straight from the
      // pixel generator (bypassing the byte path the kernel exercises)
      val grays = (0 until 64).map { t =>
        val sy = (t / 8) * h / 8; val sx = (t % 8) * w / 8
        val p = (sy * w + sx) * 3
        (0 until 3).map(c => Multimodal.imgVal(id, p + c).toLong).sum / 3
      }
      assert(r.getAs[Long]("thumb_mean") === grays.sum / 64)
      assert(r.getAs[Long]("thumb_min") === grays.min)
      assert(r.getAs[Long]("thumb_max") === grays.max)
      assert(r.getAs[Long]("thumb_checksum") ===
        grays.zipWithIndex.map { case (g, t) => (t + 1) * g }.sum)
    }
  }

  test("q144: byte-identical batch video probes as dup; novel stream is new; sf0.1 matches key recompute") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    // fixture probe against the sf0.001 index: a corpus-side video
    // re-tagged with a batch id must hit its own class; a crafted
    // stream that exists nowhere must come back new
    val corpusVid = Multimodal.mediaTable(spark, sf0001)
      .where(col("meta.format") === "vid" &&
        pmod(col("doc_id"), lit(Multimodal.VideoBatchMod)) =!= Multimodal.VideoBatchResidue)
      .select("doc_id", "payload").limit(1).collect().head
    val (srcId, srcPayload) = (corpusVid.getLong(0), corpusVid.getAs[Array[Byte]](1))
    val novel = MediaCodecs.encodePpmStream(9, 9, 3, (f, i) => (f * 37 + i * 11 + 5) % 256)
    import spark.implicits._
    val batch = Seq((900001L, srcPayload), (900002L, novel)).toDF("doc_id", "payload")
    val verdicts = Multimodal.videoIncrementalDedupOf(spark, sf0001, batch).collect()
      .map(r => r.getLong(0) -> (r.getString(2), if (r.isNullAt(3)) null else r.getLong(3))).toMap
    assert(verdicts(900001L)._1 === "dup", "byte-identical copy must probe as dup")
    assert(verdicts(900001L)._2 !== null)
    assert(verdicts(900002L) === (("new", null)), "novel stream must probe as new")
    // the dup target must share the exact signature key and be the
    // class minimum over the corpus split
    val keys = Multimodal.videoSigKeysOf(Multimodal.videoFrameTable(spark, sf0001))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(keys.filter { case (id, k) =>
      id % Multimodal.VideoBatchMod != Multimodal.VideoBatchResidue && k == keys(srcId)
    }.keys.min === verdicts(900001L)._2)
    // corpus run at sf0.1: the mod-7 split straddles the 3840-periodic
    // exact classes, so real dup verdicts must appear, and every status
    // must match a key-set recompute
    val sf01 = "/root/testdata/sf0.1"
    val out = Multimodal.videoIncrementalDedup(spark, sf01).collect()
    assert(out.nonEmpty)
    assert(out.exists(_.getString(2) == "dup"),
      "sf0.1's cross-split video classes must produce corpus hits")
    val keys01 = Multimodal.videoSigKeysOf(Multimodal.videoFrameTable(spark, sf01))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val corpusKeys = keys01.collect {
      case (id, k) if id % Multimodal.VideoBatchMod != Multimodal.VideoBatchResidue => k
    }.toSet
    out.foreach { r =>
      assert((r.getString(2) == "dup") === corpusKeys.contains(keys01(r.getLong(0))),
        s"status must match the corpus key-set recompute: $r")
      if (r.getString(2) == "dup")
        assert(keys01(r.getLong(3)) === keys01(r.getLong(0)),
          s"dup_of must share the batch video's signature key: $r")
      else assert(r.isNullAt(3))
    }
  }

  test("q146: manifest covers every media doc once; survivors agree with the three cluster tables") {
    val sf01 = "/root/testdata/sf0.1"
    val out = Multimodal.mediaDedupManifest(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getLong(2), r.getString(3),
        if (r.isNullAt(4)) null else r.getLong(4)))
    val nMedia = Multimodal.mediaTable(spark, sf01).count()
    assert(out.length.toLong === nMedia, "one manifest row per media document")
    assert(out.map(_._1).distinct.length === out.length)
    assert(out.exists(_._4 == "drop"), "sf0.1's dup classes must produce drops")
    // per cluster: exactly one keep; every drop's dup_of IS that keep
    out.filter(_._3 != null).groupBy(_._3).foreach { case (comp, rows) =>
      val keeps = rows.filter(_._4 == "keep")
      assert(keeps.length === 1, s"cluster $comp must keep exactly one member")
      rows.filter(_._4 == "drop").foreach { r =>
        assert(r._5 === keeps.head._1, s"drop $r must point at its cluster's survivor")
      }
    }
    // unclustered rows are keeps with no dup_of
    out.filter(_._3 == null).foreach { r =>
      assert(r._4 === "keep" && r._5 === null, s"unclustered row must be a plain keep: $r")
    }
    // survivor sets must agree with the three per-modality cluster tables
    val expected = (Multimodal.imageDupClusters(spark, sf01).collect() ++
      Multimodal.videoDupClusters(spark, sf01).collect() ++
      Multimodal.audioDupClusters(spark, sf01).collect())
      .map(r => r.getAs[Long]("survivor_doc_id")).toSet
    val got = out.filter(r => r._3 != null && r._4 == "keep").map(_._1).toSet
    assert(got === expected, "clustered keeps must be exactly the cluster survivors")
    // modality tags partition by the generator's doc_id % 3 rule
    out.foreach { case (id, m, _, _, _) =>
      assert(m === Seq("bmp", "wav", "vid")((id % 3).toInt))
    }
  }

  test("q145: resampled batch track probes as dup through the envelope index; statuses match recompute") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    // END-TO-END resample-invariance through the INDEX: a 2x-upsampled
    // re-encode of a corpus-side track (different n_samples, different
    // bytes — invisible to q68's content digest) must probe as a dup of
    // that track's envelope class. The source track's length must be a
    // multiple of AudioWindows: exact-2x upsampling preserves window
    // boundaries (sums double uniformly → threshold bits identical)
    // only when the windows align; a non-aligned resample lands a few
    // bits away and escalates to q141's banded machinery instead.
    val srcId = Multimodal.mediaTable(spark, sf0001)
      .where(col("meta.format") === "wav" && pmod(col("doc_id"), lit(10)) =!= 9 &&
        pmod(pmod(col("doc_id"), lit(2000)) + 500, lit(Multimodal.AudioWindows)) === 0)
      .select("doc_id").limit(1).collect().head.getLong(0)
    val n = (srcId % 2000 + 500).toInt
    val base = Array.tabulate[Short](n)(i => Multimodal.wavVal(srcId, i))
    val resampled = base.flatMap(s => Array(s, s))
    import spark.implicits._
    val batch = Seq((900001L, MediaCodecs.encodeWav(resampled))).toDF("doc_id", "payload")
    val verdicts = Multimodal.audioIncrementalDedupOf(spark, sf0001, batch).collect()
    assert(verdicts.length === 1 && verdicts.head.getString(3) === "dup",
      s"resampled copy must probe as dup: ${verdicts.toSeq}")
    val sigs = Multimodal.audioSigTable(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(sigs.filter { case (id, s) => id % 10 != 9 && s == sigs(srcId) }.keys.min
      === verdicts.head.getLong(4), "dup_of must be the envelope-class minimum")
    // corpus run: every status must match an envelope-set recompute
    val out = Multimodal.audioIncrementalDedup(spark, sf0001).collect()
    assert(out.nonEmpty)
    val corpusSigs = sigs.collect { case (id, s) if id % 10 != 9 => s }.toSet
    out.foreach { r =>
      assert((r.getString(3) == "dup") ===
        corpusSigs.contains((r.getLong(1), r.getLong(2))),
        s"status must match the corpus envelope-set recompute: $r")
    }
  }
}
