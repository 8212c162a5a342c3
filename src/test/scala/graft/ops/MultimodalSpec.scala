package graft.ops

import graft.SparkSpec

/** Multimodal binary-column plumbing: batching shape, determinism, and the
  * DataFrame lift (north-star extension; see ops/Multimodal.scala).
  */
class MultimodalSpec extends SparkSpec {

  import spark.implicits._

  test("extractFeatures: deterministic features regardless of batch size / partitioning") {
    val media = (1L to 50L).map(i =>
      Multimodal.MediaRecord(i, "image", Array.tabulate(i.toInt * 3)(_.toByte)))
    def run(parts: Int, batch: Int) =
      Multimodal.extractFeatures(
        spark.createDataset(media).repartition(parts),
        new Multimodal.StubCodec(), batch)
        .collect().sortBy(_.media_id)
        .map(f => (f.media_id, f.n_bytes, f.features.toSeq)).toSeq
    val a = run(1, 64)
    val b = run(7, 3)
    assert(a == b)
    assert(a.map(_._1) == (1L to 50L))
  }

  test("Md5StubCodec: features are the digest's 16-bit groups, exact in float") {
    // md5("abc") = 900150983cd24fb0d6963f7d28e17f72 → 8 hex quads
    val out = new Multimodal.Md5StubCodec()
      .decodeBatch(Seq(Multimodal.MediaRecord(1L, "image", "abc".getBytes("UTF-8"))))
    assert(out.head.features.toSeq == Seq(0x9001, 0x5098, 0x3cd2, 0x4fb0,
      0xd696, 0x3f7d, 0x28e1, 0x7f72).map(_.toFloat))
    assert(out.head.n_bytes == 3 && out.head.width == 3 && out.head.height == 3)
    // batch-size invariance holds for the md5 stub too (same seam contract)
    val media = (1L to 20L).map(i =>
      Multimodal.MediaRecord(i, "image", Array.tabulate(i.toInt)(_.toByte)))
    def run(parts: Int, batch: Int) =
      Multimodal.extractFeatures(
        spark.createDataset(media).repartition(parts),
        new Multimodal.Md5StubCodec(), batch)
        .collect().sortBy(_.media_id).map(f => (f.media_id, f.features.toSeq)).toSeq
    assert(run(1, 64) == run(5, 3))
  }

  test("codec sees micro-batches bounded by batchSize, one codec per partition") {
    val sizes = spark.sparkContext.collectionAccumulator[Int]("batchSizes")
    val counting = new Multimodal.Codec {
      private val inner = new Multimodal.StubCodec()
      def decodeBatch(batch: Seq[Multimodal.MediaRecord]) = {
        sizes.add(batch.size)
        inner.decodeBatch(batch)
      }
    }
    val media = (1L to 20L).map(i => Multimodal.MediaRecord(i, "audio", Array(i.toByte)))
    Multimodal.extractFeatures(
      spark.createDataset(media).repartition(2), counting, batchSize = 4).count()
    import scala.jdk.CollectionConverters._
    val observed = sizes.value.asScala.toSeq
    assert(observed.forall(_ <= 4))
    assert(observed.sum == 20)
  }

  test("aHashBands: hand-computed bits, cross-multiplied mean, empty blocks read 0") {
    // payload [0,10,20,30]: n=4 < 64 blocks → bytes land in blocks
    // 0/16/32/48 (i*64/4), all other blocks empty → 0. tot=60, each
    // blen=1: bit = v*4 >= 60 → only v=20 (block 32) and v=30 (block 48).
    assert(Multimodal.aHashBands(Array[Byte](0, 10, 20, 30)).toSeq ==
      Seq(0L, 0L, 1L, 1L))
    // constant payload: every block mean equals the global mean → all 64
    // bits set (>= is inclusive)
    assert(Multimodal.aHashBands(Array.fill[Byte](256)(42)).toSeq ==
      Seq(0xffffL, 0xffffL, 0xffffL, 0xffffL))
  }

  test("perceptualNearDupPairs: identical and lightly-edited payloads pair up; " +
      "band collisions with far hamming are rejected") {
    val base = Array.tabulate(256)(i => (i % 97).toByte)
    val edited = base.clone(); edited(0) = 'X'.toByte
    val media = spark.createDataset(Seq(
      Multimodal.MediaRecord(1L, "image", base),
      Multimodal.MediaRecord(2L, "image", base.clone()),
      Multimodal.MediaRecord(3L, "image", edited),
      // constant vs ramp: both have all-ones upper bands → band-collision
      // candidates, but hamming 32 — must die in the verify
      Multimodal.MediaRecord(4L, "image", Array.fill[Byte](256)(42)),
      Multimodal.MediaRecord(5L, "image", Array.tabulate(256)(i => (i / 4).toByte)),
      Multimodal.MediaRecord(6L, "image", Array.emptyByteArray)))
    val rows = Multimodal.perceptualNearDupPairs(media)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(t => (t._1, t._2)).toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(rows.forall(_._3 <= 3))
    assert(rows.find(t => (t._1, t._2) == (1L, 2L)).get._3 == 0L)
    // sanity: the far pair really was a band-collision candidate
    val bands = Multimodal.perceptualHashBands(
      spark.createDataset(Seq(
        Multimodal.MediaRecord(4L, "image", Array.fill[Byte](256)(42)),
        Multimodal.MediaRecord(5L, "image",
          Array.tabulate(256)(i => (i / 4).toByte)))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bands.contains((4L, 3L, 0xffffL)) && bands.contains((5L, 3L, 0xffffL)))
    // zero-retained-frames lifecycle (the Graph-ops discipline): the bands
    // frame is localCheckpoint-backed, not a leaked persist-per-call.
    // Clear first: suites share one session, and other suites' SHALLOW
    // graph calls legitimately leave lazy caches behind — this assert is
    // about OUR call only.
    spark.catalog.clearCache()
    Multimodal.perceptualNearDupPairs(media).collect()
    assert(org.apache.spark.sql.graftbridge.TestBridge.sqlCacheIsEmpty(spark),
      "perceptualNearDupPairs must not leave a cached frame behind")
  }

  // ---- real-pixel path: the PnmDecoder behind the LumaDecoder seam ----

  private def p5(w: Int, h: Int, px: Array[Int]): Array[Byte] =
    (s"P5\n$w $h\n255\n".getBytes("US-ASCII") ++ px.map(_.toByte)).toArray
  private def p6(w: Int, h: Int, rgb: Array[Int]): Array[Byte] =
    (s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ rgb.map(_.toByte)).toArray

  test("PnmDecoder: P6 luma is exact integer BT.601; P5 passes through; " +
      "comments parse; malformed payloads fail fast") {
    val d = new Multimodal.PnmDecoder
    // (255,0,0)→76  (0,255,0)→149  (0,0,255)→29  (255,255,255)→255
    // (0,0,0)→0  (100,50,25)→(29900+29350+2850)/1000=62
    val rgb = Array(255, 0, 0, 0, 255, 0, 0, 0, 255,
      255, 255, 255, 0, 0, 0, 100, 50, 25)
    assert(d.lumaPlane(p6(3, 2, rgb)) match {
      case (3, 2, l) => l.toSeq == Seq(76, 149, 29, 255, 0, 62)
      case _ => false
    })
    assert(d.lumaPlane(p5(2, 2, Array(10, 20, 30, 40))) match {
      case (2, 2, l) => l.toSeq == Seq(10, 20, 30, 40)
      case _ => false
    })
    val commented = ("P5\n# a comment\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](7, 9)).toArray
    assert(d.lumaPlane(commented)._3.toSeq == Seq(7, 9))
    intercept[IllegalArgumentException] { d.lumaPlane("JFIF".getBytes) }
    intercept[IllegalArgumentException] { // raster truncated
      d.lumaPlane("P5\n4 4\n255\nxy".getBytes("US-ASCII"))
    }
  }

  test("PnmDecoder: hand-computed aHash bits over real pixels; near-dup " +
      "join pairs the edited copy and rejects the inverse") {
    val d = new Multimodal.PnmDecoder
    // 16x16, left half 0, right half 200: every 2x2 block is uniform, so
    // the 8x8 grid is cols 0-3 black / 4-7 white → per-row bits 0xF0 →
    // four 16-bit band words of 0xF0F0 each
    def img(left: Int, right: Int) = p5(16, 16,
      Array.tabulate(256)(i => if (i % 16 < 8) left else right))
    val a = img(0, 200)
    assert(Multimodal.lumaBands(d, a).toSeq ==
      Seq(0xF0F0L, 0xF0F0L, 0xF0F0L, 0xF0F0L))
    // edited copy: blank out ONE white 2x2 block (bx=4, by=0 → pixels
    // x∈{8,9}, y∈{0,1}) → exactly that block's bit flips → hamming 1
    val editedPx = Array.tabulate(256) { i =>
      val (x, y) = (i % 16, i / 16)
      if (x >= 8 && x <= 9 && y <= 1) 0 else if (x < 8) 0 else 200
    }
    val b = p5(16, 16, editedPx)
    // inverse image: band words 0x0F0F — no shared band, never a candidate
    val c = img(200, 0)
    val media = spark.createDataset(Seq(
      Multimodal.MediaRecord(1L, "image", a),
      Multimodal.MediaRecord(2L, "image", b),
      Multimodal.MediaRecord(3L, "image", c)))
    val rows = Multimodal.perceptualNearDupPairs(media, decoder = Some(d))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, 2L, 1L)),
      s"expected exactly the edited pair at hamming 1, got ${rows.toSeq}")
  }

  test("PnmDecoder as a Codec: real dimensions + 8x8 block-mean features " +
      "through extractFeatures") {
    val real = p5(16, 8, Array.tabulate(128)(i => if (i % 16 < 8) 0 else 200))
    val media = spark.createDataset(Seq(Multimodal.MediaRecord(1L, "image_pnm", real)))
    val out = Multimodal.extractFeatures(media, new Multimodal.PnmDecoder).collect()
    // real decode: true 16x8 dims, 64 features, block means 0 or 200/255
    assert(out(0).width == 16 && out(0).height == 8)
    assert(out(0).features.length == 64)
    assert(out(0).features.toSeq.distinct.sorted == Seq(0f, 200f / 255f))
  }

  test("asMedia lifts any table's binary column; documentFeatures runs end-to-end") {
    val docs = Seq((10L, "en", "hello world"), (11L, "de", "hallo"))
      .toDF("doc_id", "lang", "text")
    val feats = Multimodal.documentFeatures(spark, docs).collect().sortBy(_.media_id)
    assert(feats.map(_.media_id).toSeq == Seq(10L, 11L))
    assert(feats(0).n_bytes == 11)
    assert(feats(0).features.length == 8)
    assert(feats.forall(_.features.forall(f => f >= 0f && f <= 1f)))
  }

  // ---- audio seam: WavDecoder + frame stats ------------------------------

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  /** Minimal WAV builder: interleaved s16 samples; optionally an odd-sized
    * LIST chunk (with its RIFF pad byte) between fmt and data.
    */
  private def wav(rate: Int, channels: Int, interleaved: Seq[Int],
                  oddChunk: Boolean = false): Array[Byte] = {
    val data = interleaved.flatMap(le16).toArray
    val extra =
      if (oddChunk) "LIST".getBytes("US-ASCII") ++ le32(5) ++
        "graft".getBytes("US-ASCII") ++ Array(0.toByte)
      else Array.empty[Byte]
    val fmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++
      le16(channels) ++ le32(rate) ++ le32(rate * channels * 2) ++
      le16(channels * 2) ++ le16(16)
    val body = "WAVE".getBytes("US-ASCII") ++ fmt ++ extra ++
      "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  test("WavDecoder: s16le mono samples round-trip; odd-sized LIST chunk " +
      "skipped with its pad byte") {
    val samples = Seq(0, 1000, -1000, 32767, -32768, 5)
    val dec = new Multimodal.WavDecoder()
    val (rate, s) = dec.pcmSamples(wav(8000, 1, samples))
    assert(rate == 8000)
    assert(s.toSeq == samples)
    // the same samples behind an odd-sized skippable chunk decode alike —
    // a parser missing the RIFF pad byte reads 'data' one byte early
    val (r2, s2) = dec.pcmSamples(wav(8000, 1, samples, oddChunk = true))
    assert(r2 == 8000 && s2.toSeq == samples)
  }

  test("WavDecoder: stereo mixes down by FLOOR-average (floorDiv, not " +
      "truncation toward zero)") {
    // frames (L,R): (3,-4) -> floor(-1/2) = -1 (truncation would say 0);
    // (-5,-6) -> floor(-11/2) = -6; (7,8) -> 7
    val (_, s) = new Multimodal.WavDecoder()
      .pcmSamples(wav(16000, 2, Seq(3, -4, -5, -6, 7, 8)))
    assert(s.toSeq == Seq(-1, -6, 7))
  }

  test("WavDecoder rejects malformed containers, fail-fast") {
    val dec = new Multimodal.WavDecoder()
    def bad(p: Array[Byte], hint: String): Unit = {
      val e = intercept[IllegalArgumentException](dec.pcmSamples(p))
      assert(e.getMessage.contains(hint), s"${e.getMessage} !~ $hint")
    }
    val good = wav(8000, 1, Seq(1, 2, 3))
    bad(Array[Byte](1, 2, 3), "truncated")
    bad("RIFX".getBytes ++ good.drop(4), "bad magic")
    bad(good.take(8) ++ "EVAW".getBytes ++ good.drop(12), "not WAVE")
    // float PCM (format 3) and 8-bit depth rejected
    val f3 = good.clone(); f3(20) = 3; bad(f3, "unsupported audio format")
    val b8 = good.clone(); b8(34) = 8; b8(32) = 1; bad(b8, "bit depth")
    // data chunk truncated: declared size overruns the payload
    bad(good.dropRight(2), "overruns")
    // no data chunk at all
    bad(good.take(36), "no data chunk")
    // data before fmt: swap chunk order
    val dataChunk = good.slice(36, good.length)
    val fmtChunk = good.slice(12, 36)
    bad(good.take(12) ++ dataChunk ++ fmtChunk, "data chunk before fmt")
  }

  test("audioFrameStats: hand-computed energy/peak incl. the short tail " +
      "frame; audioSummary silence rule is cross-multiplied") {
    import spark.implicits._
    val payload = wav(8000, 1, Seq(0, 1000, -1000, 32767, -32768, 5))
    val media = Seq((7L, "audio", payload))
      .toDF("media_id", "kind", "payload")
    val ds = Multimodal.asMedia(media, "media_id", "kind", "payload")
    val rows = Multimodal
      .audioFrameStats(ds, new Multimodal.WavDecoder(), frameLen = 4)
      .orderBy("frame").collect()
    // frame 0: [0,1000,-1000,32767]: e = 2*10^6 + 32767^2, p = 32767
    // frame 1 (tail, n=2): [-32768,5]: e = 2^30 + 25, p = 32768
    assert(rows.length == 2)
    assert(rows(0).getLong(2) == 4 &&
      rows(0).getLong(3) == 2000000L + 32767L * 32767L &&
      rows(0).getLong(4) == 32767L)
    assert(rows(1).getLong(2) == 2 &&
      rows(1).getLong(3) == 1073741824L + 25L &&
      rows(1).getLong(4) == 32768L)
    // summary: threshold meanSq 600000 — frame 0 mean sq ≈ 2.69e8 (loud),
    // tail frame energy 2^30+25 over n=2 is loud too; with a huge
    // threshold both flip silent. duration_ms = 6*1000 div 8000 = 0.
    val s1 = Multimodal.audioSummary(ds, new Multimodal.WavDecoder(),
      frameLen = 4, silenceMeanSq = 600000L).collect()(0)
    assert(s1.getLong(1) == 8000 && s1.getLong(2) == 6 &&
      s1.getLong(3) == 0 && s1.getLong(4) == 2 &&
      s1.getLong(5) == 0 && s1.getLong(6) == 32768)
    val s2 = Multimodal.audioSummary(ds, new Multimodal.WavDecoder(),
      frameLen = 4, silenceMeanSq = 1L << 40).collect()(0)
    assert(s2.getLong(5) == 2)
    // boundary: a frame whose energy EQUALS n·thr is NOT silent (<, not ≤)
    val quiet = wav(8000, 1, Seq(10, 10, 10, 10))
    val mq = Seq((1L, "audio", quiet)).toDF("media_id", "kind", "payload")
    val qs = Multimodal.asMedia(mq, "media_id", "kind", "payload")
    val atEq = Multimodal.audioSummary(qs, new Multimodal.WavDecoder(),
      frameLen = 4, silenceMeanSq = 100L).collect()(0)
    assert(atEq.getLong(5) == 0, "energy == n*thr must not count as silent")
    val above = Multimodal.audioSummary(qs, new Multimodal.WavDecoder(),
      frameLen = 4, silenceMeanSq = 101L).collect()(0)
    assert(above.getLong(5) == 1)
  }

  test("audioNearDupPairs: re-containered copy at hamming 0, exact " +
      "half-volume copy fingerprint-identical, different stream far away") {
    import spark.implicits._
    // deterministic pseudo-audio with an uneven envelope (quiet half,
    // loud half) — EVEN samples so the half-volume division is exact
    val samples = (0 until 256).map(i =>
      if (i < 128) (i % 7) * 2 else 20000 + (i % 11) * 2)
    val half = samples.map(_ / 2)
    val other = (0 until 256).map(i => if (i % 2 == 0) 30000 else -30000)
    val media = Seq(
      (1L, "audio", wav(8000, 1, samples)),
      // same PCM, different container (odd LIST chunk the walk must skip)
      (2L, "audio", wav(8000, 1, samples, oddChunk = true)),
      // exact half volume: ratio-based bits identical → hamming 0
      (3L, "audio", wav(8000, 1, half)),
      (4L, "audio", wav(8000, 1, other)))
      .toDF("media_id", "kind", "payload")
    val ds = Multimodal.asMedia(media, "media_id", "kind", "payload")
    val pairs = Multimodal
      .audioNearDupPairs(ds, new Multimodal.WavDecoder())
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L, 0L), (1L, 3L, 0L), (2L, 3L, 0L)),
      s"got $pairs")
    // the constant-alternation stream's envelope is flat (every block at
    // the mean → all 64 bits set); the ramp stream's quiet half is below
    // the mean — far apart, never within 3 bits
    val h = Multimodal.audioEnvelopePacked(ds, new Multimodal.WavDecoder())
      .as[(Long, Long)].collect().toMap
    assert(h(4L) == -1L) // all 64 bits
    assert(java.lang.Long.bitCount(h(1L) ^ h(4L)) > 3)
  }

  test("WavDecoder as a Codec: rate/sample-count surfaced, 8-block " +
      "envelope features in [0,1]") {
    import spark.implicits._
    val payload = wav(16000, 1, (0 until 16).map(i => i * 100))
    val media = Seq((1L, "audio", payload)).toDF("media_id", "kind", "payload")
    val feats = Multimodal.extractFeatures(
      Multimodal.asMedia(media, "media_id", "kind", "payload"),
      new Multimodal.WavDecoder()).collect()
    assert(feats.length == 1)
    assert(feats(0).width == 16000 && feats(0).height == 16)
    assert(feats(0).features.length == 8)
    // block b holds samples 2b, 2b+1 -> mean |s| = (200b + 100b+100)/2
    assert(feats(0).features(0) == 50f / 32768f)
    assert(feats(0).features(7) == 1450f / 32768f)
  }
}
