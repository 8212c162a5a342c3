package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (north star: "multimodal columns" —
  * /root/repo/BASELINE.json). Media payloads are opaque BINARY columns with
  * typed metadata structs; decode/feature-extraction runs as BATCHED
  * per-partition inference (`mapPartitions` with an explicit micro-batch
  * size — the Scala twin of a Pandas-UDF `mapInPandas` loop).
  *
  * The actual codec is a STUB (this container ships no image/audio libs —
  * builder-prompt note): `StubCodec` produces deterministic fake features.
  * Everything around it — schema, batching shape, partitioning, lineage of
  * bytes → features — is real, tested, and is exactly what a production
  * codec would drop into.
  */
object Multimodal {

  /** A media row: opaque payload + declared metadata (never inferred). */
  final case class MediaRecord(media_id: Long, kind: String, payload: Array[Byte])

  /** Extracted features: fixed-dim embedding + basic decode metadata. */
  final case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
                                 width: Int, height: Int, features: Array[Float])

  /** The decode/inference seam. Implementations MUST be batch-oriented:
    * real codecs and models amortize setup per batch, not per record.
    */
  trait Codec extends Serializable {
    def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures]
  }

  /** Deterministic fake decode: "dimensions" from payload length, features
    * from a rolling byte hash. Stands in for image resize / audio frame
    * sample / model forward-pass.
    */
  final class StubCodec(dim: Int = 8) extends Codec {
    def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
      batch.map { r =>
        val n = r.payload.length
        val feats = Array.tabulate(dim) { i =>
          var acc = i + 1
          var j = i
          while (j < n) { acc = acc * 31 + (r.payload(j) & 0xff); j += dim }
          (acc & 0xffff).toFloat / 0xffff
        }
        MediaFeatures(r.media_id, r.kind, n, n % 640, n % 480, feats)
      }
  }

  /** SQL-REPLAYABLE stub decode: every output is derived from the md5 of
    * the payload bytes, so a SQL oracle can recompute the whole pipeline
    * (`('0x' || substr(md5(payload), 4i+1, 4))::INT` per feature) and
    * hash-verify the batching path end-to-end — which the rolling-hash
    * `StubCodec` can't offer (not ANSI-SQL-expressible). Feature i is the
    * i-th 16-bit group of the digest as an exact float (≤ 65535, so the
    * float carries it losslessly); dimension is fixed at 8 (32 hex chars /
    * 4). Same width/height rule as StubCodec.
    */
  final class Md5StubCodec extends Codec {
    def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] = {
      // one digest instance per batch — the setup-amortization shape a real
      // codec needs from this seam
      val md = java.security.MessageDigest.getInstance("MD5")
      batch.map { r =>
        val hex = md.digest(r.payload).map("%02x".format(_)).mkString
        val feats = Array.tabulate(8)(i =>
          Integer.parseInt(hex.substring(4 * i, 4 * i + 4), 16).toFloat)
        val n = r.payload.length
        MediaFeatures(r.media_id, r.kind, n, n % 640, n % 480, feats)
      }
    }
  }

  /** Batched feature extraction: one codec instance per PARTITION (setup
    * amortized), records grouped into `batchSize` micro-batches inside each
    * partition. Narrow transformation — no shuffle; scales with partitions.
    */
  def extractFeatures(media: Dataset[MediaRecord], codec: Codec,
                      batchSize: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(b => codec.decodeBatch(b.toSeq))
    }
  }

  /** Lift any table with a binary column into MediaRecords. */
  def asMedia(df: DataFrame, idCol: String, kindCol: String,
              payloadCol: String): Dataset[MediaRecord] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("media_id"),
        col(kindCol).as("kind"), col(payloadCol).cast("binary").as("payload"))
      .as[MediaRecord]
  }

  /** End-to-end demo pipeline over the documents table: text bytes stand in
    * for media payloads; returns features keyed by media_id.
    */
  def documentFeatures(spark: SparkSession, docs: DataFrame,
                       batchSize: Int = 64): Dataset[MediaFeatures] =
    extractFeatures(
      asMedia(docs, "doc_id", "lang", "text"), new StubCodec(), batchSize)

  /** 64-bit average-hash (aHash) of a payload, returned as `blocks /
    * bandBits` band words — the perceptual fingerprint of the classic
    * image near-dup pipeline (split the media into 64 blocks, flag each
    * block whose mean sample ≥ the global mean), computed here over raw
    * payload bytes so the stub container stays codec-free; a production
    * deployment computes the same bits over decoded 8×8 luma and
    * NOTHING downstream changes. bit b = 1 iff blockSum·n ≥ totalSum·
    * blockLen — integer cross-multiplication, no division, so an
    * external SQL engine replays every bit; empty blocks (payloads
    * shorter than `blocks` bytes) read 0.
    */
  def aHashBands(payload: Array[Byte], blocks: Int = 64,
                 bandBits: Int = 16): Array[Long] = {
    require(blocks % bandBits == 0, "bandBits must divide blocks")
    val n = payload.length
    val bsum = new Array[Long](blocks)
    val blen = new Array[Long](blocks)
    var tot = 0L
    var i = 0
    while (i < n) {
      val b = ((i.toLong * blocks) / n).toInt
      val v = (payload(i) & 0xff).toLong
      bsum(b) += v; blen(b) += 1; tot += v
      i += 1
    }
    val out = new Array[Long](blocks / bandBits)
    var b = 0
    while (b < blocks) {
      if (blen(b) > 0 && bsum(b) * n >= tot * blen(b))
        out(b / bandBits) |= 1L << (b % bandBits)
      b += 1
    }
    out
  }

  /** A REAL pixel source behind the perceptual-hash seam: anything that
    * can turn a payload into an integer luma plane. `PnmDecoder` is the
    * production instance; the byte-stub path (no decoder) remains the
    * oracle-replayable twin.
    */
  trait LumaDecoder extends Serializable {
    /** (width, height, row-major luma samples in 0..255). */
    def lumaPlane(payload: Array[Byte]): (Int, Int, Array[Int])
  }

  /** Pure-JVM binary Netpbm decoder — P6 (RGB) and P5 (grayscale), the
    * simplest real raster formats (a one-line ImageMagick/`ffmpeg`
    * conversion away from anything). This is the "one real codec" that
    * proves the multimodal seam carries actual pixels, not just the
    * deterministic stubs: header parse (whitespace + `#` comments,
    * maxval ≤ 255), then integer BT.601 luma
    * `(299·R + 587·G + 114·B) div 1000` per pixel — all-integer, so the
    * same bits come out on every platform (no float colorimetry).
    *
    * As a `Codec` it emits REAL width/height and the 8×8 block-mean luma
    * grid (64 values, scaled to [0,1]) as the feature vector — the
    * classic aHash/pHash preprocessing. Malformed payloads fail fast
    * (corrupt media silently becoming features is how corpora rot).
    */
  final class PnmDecoder extends LumaDecoder with Codec {

    def lumaPlane(payload: Array[Byte]): (Int, Int, Array[Int]) = {
      var pos = 0
      def fail(msg: String) =
        throw new IllegalArgumentException(s"malformed PNM: $msg")
      if (payload.length < 2) fail("truncated header")
      val magic = new String(payload, 0, 2, "US-ASCII")
      if (magic != "P6" && magic != "P5") fail(s"unsupported magic $magic")
      pos = 2
      // header tokens separated by whitespace; '#' comments run to newline
      def nextInt(): Int = {
        while (pos < payload.length &&
            (payload(pos).toChar.isWhitespace || payload(pos) == '#')) {
          if (payload(pos) == '#')
            while (pos < payload.length && payload(pos) != '\n') pos += 1
          else pos += 1
        }
        val start = pos
        while (pos < payload.length && payload(pos).toChar.isDigit) pos += 1
        if (pos == start) fail("missing header integer")
        new String(payload, start, pos - start, "US-ASCII").toInt
      }
      val w = nextInt(); val h = nextInt(); val maxval = nextInt()
      if (w <= 0 || h <= 0) fail(s"bad dimensions ${w}x$h")
      if (maxval <= 0 || maxval > 255) fail(s"unsupported maxval $maxval")
      pos += 1 // single whitespace byte after maxval, per spec
      val channels = if (magic == "P6") 3 else 1
      val need = w.toLong * h * channels
      if (payload.length - pos < need)
        fail(s"raster truncated: need $need bytes, have ${payload.length - pos}")
      val luma = new Array[Int](w * h)
      var i = 0
      while (i < w * h) {
        val base = pos + i * channels
        luma(i) =
          if (channels == 1) payload(base) & 0xff
          else (299 * (payload(base) & 0xff) + 587 * (payload(base + 1) & 0xff)
            + 114 * (payload(base + 2) & 0xff)) / 1000
        i += 1
      }
      (w, h, luma)
    }

    def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
      batch.map { r =>
        val (w, h, luma) = lumaPlane(r.payload)
        val grid = blockMeans(w, h, luma)
        MediaFeatures(r.media_id, r.kind, r.payload.length, w, h,
          grid.map(_.toFloat / 255f))
      }

    /** 8×8 block-mean downsample (box filter): pixel (x,y) lands in block
      * (⌊8y/h⌋, ⌊8x/w⌋); each block's value is the floor-mean of its luma
      * samples — exact integer sums, blocks with no pixels (w or h < 8)
      * read 0, matching `aHashBands`' empty-block rule.
      */
    private[ops] def blockMeans(w: Int, h: Int, luma: Array[Int]): Array[Long] = {
      val bsum = new Array[Long](64)
      val blen = new Array[Long](64)
      var y = 0
      while (y < h) {
        val by = (y.toLong * 8 / h).toInt
        var x = 0
        while (x < w) {
          val b = by * 8 + (x.toLong * 8 / w).toInt
          bsum(b) += luma(y * w + x); blen(b) += 1
          x += 1
        }
        y += 1
      }
      Array.tabulate(64)(b => if (blen(b) == 0) 0L else bsum(b) / blen(b))
    }

  }

  /** aHash band words over DECODED pixels: same cross-multiplied bit rule
    * as `aHashBands` (bit = block's mean ≥ global mean, via bsum·N ≥
    * tot·blen — no division), but accumulated over the luma plane any
    * `LumaDecoder` produces instead of raw payload bytes.
    */
  def lumaBands(decoder: LumaDecoder, payload: Array[Byte],
                bandBits: Int = 16): Array[Long] = {
    val (w, h, luma) = decoder.lumaPlane(payload)
    val bsum = new Array[Long](64)
    val blen = new Array[Long](64)
    var tot = 0L
    var y = 0
    while (y < h) {
      val by = (y.toLong * 8 / h).toInt
      var x = 0
      while (x < w) {
        val b = by * 8 + (x.toLong * 8 / w).toInt
        val v = luma(y * w + x)
        bsum(b) += v; blen(b) += 1; tot += v
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    val out = new Array[Long](64 / bandBits)
    var b = 0
    while (b < 64) {
      if (blen(b) > 0 && bsum(b) * n >= tot * blen(b))
        out(b / bandBits) |= 1L << (b % bandBits)
      b += 1
    }
    out
  }

  /** Per-record perceptual-hash bands as a DataFrame `(media_id, band,
    * band_val)` — the narrow decode-stage pass (mapPartitions, zero
    * shuffle) that `perceptualNearDupPairs` banded-joins on. Empty
    * payloads are dropped (no perceptual content to hash). With a
    * `decoder`, bands come from DECODED 8×8 block-mean luma (real
    * pixels); without, from the byte-level stub hash (the SQL-replayable
    * oracle twin). The downstream banded join is identical either way —
    * that is the point of the seam.
    */
  def perceptualHashBands(media: Dataset[MediaRecord],
                          bandBits: Int = 16,
                          decoder: Option[LumaDecoder] = None): DataFrame = {
    import media.sparkSession.implicits._
    val dec = decoder // avoid capturing `media` in the task closure
    media.mapPartitions { it =>
      it.filter(_.payload.nonEmpty).flatMap { r =>
        val bands = dec match {
          case Some(d) => lumaBands(d, r.payload, bandBits)
          case None => aHashBands(r.payload, bandBits = bandBits)
        }
        bands.iterator.zipWithIndex
          .map { case (v, k) => (r.media_id, k.toLong, v) }
      }
    }.toDF("media_id", "band", "band_val")
  }

  /** The full 64-bit perceptual hash packed into ONE long — bit b of the
    * aHash at position b (band word g occupies bits [g·bandBits,
    * (g+1)·bandBits), matching `perceptualHashBands`' per-band values
    * slot for slot). Same decode seam and empty-payload rule as the
    * per-band form; one narrow mapPartitions pass, zero shuffle.
    */
  def perceptualHashPacked(media: Dataset[MediaRecord],
                           bandBits: Int = 16,
                           decoder: Option[LumaDecoder] = None): DataFrame = {
    import media.sparkSession.implicits._
    val dec = decoder // avoid capturing `media` in the task closure
    media.mapPartitions { it =>
      it.filter(_.payload.nonEmpty).map { r =>
        val bands = dec match {
          case Some(d) => lumaBands(d, r.payload, bandBits)
          case None => aHashBands(r.payload, bandBits = bandBits)
        }
        val h = bands.zipWithIndex.foldLeft(0L) {
          case (acc, (w, g)) => acc | (w << (g * bandBits))
        }
        (r.media_id, h)
      }
    }.toDF("media_id", "h64")
  }

  /** A REAL sample source behind the AUDIO seam — the `LumaDecoder`
    * sibling: anything that can turn a payload into integer PCM samples.
    * `WavDecoder` is the production instance.
    */
  trait PcmDecoder extends Serializable {
    /** (sample rate in Hz, mono samples). Multi-channel input is mixed
      * down by floor-averaging the interleaved channels
      * (`Math.floorDiv(Σ channel, channels)` — floor, not truncate-toward-
      * zero, so the rule is one SQL `//` an oracle can replay on negative
      * sums too).
      */
    def pcmSamples(payload: Array[Byte]): (Int, Array[Int])
  }

  /** Pure-JVM RIFF/WAVE parser — PCM signed 16-bit little-endian, any
    * channel count (mixed down to mono per `PcmDecoder`'s floor-average
    * rule). The audio counterpart of `PnmDecoder`: a real container
    * parse — chunk walk with the RIFF odd-size pad byte, `fmt ` validated
    * before `data`, unknown chunks (LIST/INFO/cue…) skipped — feeding
    * all-integer sample math, so identical bits come out on every
    * platform. Malformed payloads fail fast (corrupt media silently
    * becoming features is how corpora rot).
    *
    * As a `Codec` it emits sample rate as `width`, sample count as
    * `height`, and an 8-block mean-|amplitude| envelope (scaled to
    * [0,1]) as the feature vector — the loudness-envelope analogue of
    * the 8×8 luma grid.
    */
  final class WavDecoder extends PcmDecoder with Codec {

    def pcmSamples(payload: Array[Byte]): (Int, Array[Int]) = {
      def fail(msg: String) =
        throw new IllegalArgumentException(s"malformed WAV: $msg")
      def tag(off: Int) = new String(payload, off, 4, "US-ASCII")
      def u16(off: Int): Int =
        (payload(off) & 0xff) | ((payload(off + 1) & 0xff) << 8)
      def u32(off: Int): Long =
        (payload(off) & 0xffL) | ((payload(off + 1) & 0xffL) << 8) |
          ((payload(off + 2) & 0xffL) << 16) | ((payload(off + 3) & 0xffL) << 24)
      if (payload.length < 12) fail("truncated RIFF header")
      if (tag(0) != "RIFF") fail(s"bad magic ${tag(0)}")
      if (tag(8) != "WAVE") fail(s"not WAVE: ${tag(8)}")
      var pos = 12
      var rate = 0; var channels = 0; var fmtSeen = false
      var dataOff = -1; var dataLen = 0
      while (pos + 8 <= payload.length && dataOff < 0) {
        val id = tag(pos); val size = u32(pos + 4)
        if (size > payload.length - pos - 8)
          fail(s"chunk '$id' overruns payload ($size bytes declared)")
        id match {
          case "fmt " =>
            if (size < 16) fail("fmt chunk too short")
            val audioFormat = u16(pos + 8)
            channels = u16(pos + 10)
            rate = u32(pos + 12).toInt
            val blockAlign = u16(pos + 20)
            val bits = u16(pos + 22)
            if (audioFormat != 1)
              fail(s"unsupported audio format $audioFormat (PCM only)")
            if (channels < 1) fail("zero channels")
            if (rate <= 0) fail(s"bad sample rate $rate")
            if (bits != 16) fail(s"unsupported bit depth $bits (s16le only)")
            if (blockAlign != channels * 2)
              fail(s"blockAlign $blockAlign != channels*2")
            fmtSeen = true
          case "data" =>
            if (!fmtSeen) fail("data chunk before fmt")
            dataOff = pos + 8; dataLen = size.toInt
          case _ => () // LIST/INFO/cue/fact/… — skip
        }
        // RIFF chunks are word-aligned: odd sizes carry one pad byte
        if (dataOff < 0) pos += 8 + size.toInt + (size.toInt & 1)
      }
      if (dataOff < 0) fail("no data chunk")
      if (dataLen % (2 * channels) != 0)
        fail(s"data size $dataLen not a whole number of sample frames")
      val n = dataLen / (2 * channels)
      val mono = new Array[Int](n)
      var i = 0
      while (i < n) {
        var acc = 0
        var c = 0
        while (c < channels) {
          val base = dataOff + (i * channels + c) * 2
          acc += (((payload(base + 1) & 0xff) << 8) |
            (payload(base) & 0xff)).toShort.toInt
          c += 1
        }
        mono(i) = Math.floorDiv(acc, channels)
        i += 1
      }
      (rate, mono)
    }

    def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
      batch.map { r =>
        val (rate, s) = pcmSamples(r.payload)
        val bsum = new Array[Long](8)
        val blen = new Array[Long](8)
        var i = 0
        while (i < s.length) {
          val b = ((i.toLong * 8) / s.length).toInt
          bsum(b) += math.abs(s(i).toLong); blen(b) += 1
          i += 1
        }
        val env = Array.tabulate(8)(b =>
          if (blen(b) == 0) 0f else (bsum(b) / blen(b)).toFloat / 32768f)
        MediaFeatures(r.media_id, r.kind, r.payload.length, rate, s.length, env)
      }
  }

  /** Per-frame audio statistics `(media_id, frame, n_samples, energy,
    * peak)` over fixed-length sample frames — the decode-stage pass every
    * audio-curation readout (silence trim, loudness gate, VAD pre-filter)
    * starts from. `energy` = Σ s² per frame (exact BIGINT — s16 squares
    * cap at 2³⁰, so even hour-long frames stay far from overflow),
    * `peak` = max |s|; the tail frame is short, never padded. One narrow
    * `mapPartitions` over the media rows, zero shuffle — scales with
    * partitions exactly like the image decode pass.
    */
  def audioFrameStats(media: Dataset[MediaRecord], decoder: PcmDecoder,
                      frameLen: Int = 64): DataFrame = {
    require(frameLen >= 1, s"frameLen must be >= 1, got $frameLen")
    import media.sparkSession.implicits._
    val dec = decoder; val fl = frameLen // don't capture `media`
    media.mapPartitions { it =>
      it.flatMap { r =>
        val (_, s) = dec.pcmSamples(r.payload)
        val nFrames = (s.length + fl - 1) / fl
        (0 until nFrames).iterator.map { f =>
          var j = f * fl
          val end = math.min(s.length, j + fl)
          val n = end - j
          var e = 0L; var p = 0L
          while (j < end) {
            val v = s(j).toLong
            e += v * v
            val a = math.abs(v); if (a > p) p = a
            j += 1
          }
          (r.media_id, f.toLong, n.toLong, e, p)
        }
      }
    }.toDF("media_id", "frame", "n_samples", "energy", "peak")
  }

  /** Per-media audio summary `(media_id, sample_rate, n_samples,
    * duration_ms, n_frames, silent_frames, peak)` — the corpus-card row
    * for an audio column. A frame is silent iff its MEAN square power is
    * below `silenceMeanSq`, tested cross-multiplied
    * (`energy < n_samples · silenceMeanSq` — no division, exact on the
    * short tail frame too); duration is integer
    * `n_samples · 1000 div rate`. Same narrow zero-shuffle shape as
    * `audioFrameStats`.
    */
  def audioSummary(media: Dataset[MediaRecord], decoder: PcmDecoder,
                   frameLen: Int = 64, silenceMeanSq: Long = 1000L): DataFrame = {
    require(frameLen >= 1, s"frameLen must be >= 1, got $frameLen")
    import media.sparkSession.implicits._
    val dec = decoder; val fl = frameLen; val thr = silenceMeanSq
    media.mapPartitions { it =>
      it.map { r =>
        val (rate, s) = dec.pcmSamples(r.payload)
        val nFrames = (s.length + fl - 1) / fl
        var silent = 0L; var peak = 0L
        var f = 0
        while (f < nFrames) {
          var j = f * fl
          val end = math.min(s.length, j + fl)
          val n = end - j
          var e = 0L
          while (j < end) {
            val v = s(j).toLong
            e += v * v
            val a = math.abs(v); if (a > peak) peak = a
            j += 1
          }
          if (e < n * thr) silent += 1
          f += 1
        }
        (r.media_id, rate.toLong, s.length.toLong,
          s.length.toLong * 1000L / rate, nFrames.toLong, silent, peak)
      }
    }.toDF("media_id", "sample_rate", "n_samples", "duration_ms",
      "n_frames", "silent_frames", "peak")
  }

  /** Perceptual near-duplicate pairs: all payload pairs whose 64-bit
    * aHash fingerprints differ in ≤ `maxHamming` bits — the image-dedup
    * primitive (a re-encoded / lightly-edited copy keeps its block-mean
    * structure, so its fingerprint moves a few bits while a different
    * image moves ~32). Same provably-lossless pigeonhole blocking as
    * `Dedup.simHashNearDupPairs`, and since round 12 the same SINGLE-JOIN
    * shape: packed (band, word) long keys with a first-matching-band
    * residual (`BandedBits`) emit every candidate pair exactly once —
    * no distinct over the candidate fan-out — and because both banded
    * sides carry the packed 64-bit hash, the hamming verify is ONE
    * inline codegen'd bit_count(xor), with no id-keyed join-backs and no
    * per-band re-aggregation. Candidate SET and output are identical to
    * the per-band formulation (band word g ≡ the packed hash's group g);
    * quadratic work stays confined to band-collision buckets.
    */
  def perceptualNearDupPairs(media: Dataset[MediaRecord],
                             maxHamming: Int = 3,
                             bandBits: Int = 16,
                             decoder: Option[LumaDecoder] = None): DataFrame =
    bandedHammingPairs(perceptualHashPacked(media, bandBits, decoder),
      maxHamming, bandBits)

  /** The single-join banded hamming search over ANY `(media_id, h64)`
    * 64-bit fingerprint frame — shared by the image (aHash) and audio
    * (loudness envelope) near-dup paths, so the provably-lossless
    * pigeonhole blocking and the one-candidate-per-pair
    * first-matching-band shape cannot drift between modalities.
    */
  private def bandedHammingPairs(hashed: DataFrame, maxHamming: Int,
                                 bandBits: Int): DataFrame = {
    require(64 % bandBits == 0, "bandBits must divide 64")
    require(64 / bandBits > maxHamming,
      "losslessness needs bands > maxHamming (pigeonhole)")
    val bands = 64 / bandBits
    // localCheckpoint, not persist: the frame feeds both self-join sides
    // so the decode pass must not re-run, but a persist here would leak
    // one retained cache per call (the zero-retained-frames lifecycle the
    // Graph ops pin via sqlCacheIsEmpty). Checkpointed blocks free with
    // the session.
    val h = hashed.localCheckpoint()
    val banded = h.select(col("media_id").as("id"), col("h64"),
      explode(BandedBits.bandKeys(col("h64"), bandBits, bands)).as("bkey"))
    banded.as("a").join(banded.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.id") < col("b.id") &&
          BandedBits.firstMatchingBand(col("a.h64"), col("b.h64"),
            col("a.bkey"), bandBits, bands))
      .select(col("a.id").as("media_a"), col("b.id").as("media_b"),
        call_function("bit_count",
          col("a.h64").bitwiseXOR(col("b.h64"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** 64-bit loudness-envelope fingerprint of decoded samples: 64 equal
    * sample blocks, bit b = block-b mean |amplitude| ≥ the global mean,
    * cross-multiplied (`bsum·n ≥ tot·blen` — no division, every bit SQL-
    * replayable). The bit rule is RATIO-based, so a uniform volume change
    * keeps the fingerprint (exactly so when sample halving is exact; a
    * floor-rounded re-encode moves at most the blocks sitting on ties) —
    * the property that lets a re-mastered copy of the same recording pair
    * up. Empty sample streams are dropped (no envelope to fingerprint).
    */
  private def envelopeBits(s: Array[Int]): Long = {
    val n = s.length
    val bsum = new Array[Long](64)
    val blen = new Array[Long](64)
    var tot = 0L
    var i = 0
    while (i < n) {
      val b = ((i.toLong * 64) / n).toInt
      val v = math.abs(s(i).toLong)
      bsum(b) += v; blen(b) += 1; tot += v
      i += 1
    }
    var h = 0L
    var b = 0
    while (b < 64) {
      if (blen(b) > 0 && bsum(b) * n >= tot * blen(b)) h |= 1L << b
      b += 1
    }
    h
  }

  /** Packed envelope fingerprints `(media_id, h64)` — the audio analogue
    * of `perceptualHashPacked`: one narrow decode pass, zero shuffle.
    */
  def audioEnvelopePacked(media: Dataset[MediaRecord],
                          decoder: PcmDecoder): DataFrame = {
    import media.sparkSession.implicits._
    val dec = decoder // don't capture `media`
    media.mapPartitions { it =>
      it.flatMap { r =>
        val (_, s) = dec.pcmSamples(r.payload)
        if (s.isEmpty) None else Some((r.media_id, envelopeBits(s)))
      }
    }.toDF("media_id", "h64")
  }

  /** Audio near-duplicate pairs: decoded streams whose loudness-envelope
    * fingerprints differ in ≤ `maxHamming` of 64 bits — the same
    * provably-lossless banded single-join as the image path (shared
    * machinery, identical plan shape), fed by the audio decode seam. A
    * re-containered copy (same PCM, different chunks) lands at hamming 0;
    * a lightly-edited one moves a few bits; different recordings sit
    * near 32.
    */
  def audioNearDupPairs(media: Dataset[MediaRecord], decoder: PcmDecoder,
                        maxHamming: Int = 3,
                        bandBits: Int = 16): DataFrame =
    bandedHammingPairs(audioEnvelopePacked(media, decoder),
      maxHamming, bandBits)
}
