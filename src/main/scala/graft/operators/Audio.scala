package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Real audio decode + acoustic-fingerprint near-duplicate detection
  * for the multimodal (`binary`) column family — the audio sibling of
  * [[Images]], closing the second half of [[Multimodal.MediaCodec]]'s
  * stub: WAV (RIFF/PCM) needs no codec library at all, just the spec.
  * Reference behavior covered: the audio harvest lands raw payloads
  * in bronze and ships them out for transcription
  * (/root/reference/scripts/youtube_harvester.py:61-125); duplicate
  * payload removal before the expensive transcription step is the
  * engine-side curation win.
  *
  * Decoder: a self-contained RIFF walker — `RIFF....WAVE`, `fmt `
  * chunk (PCM format 1, 8/16-bit, any channel count), `data` chunk;
  * chunks in any order, unknown chunks skipped by their declared
  * size, truncated/malformed files decode as None (quarantine, never
  * a throw — the S3/JSONL error-tolerance contract). Multi-channel
  * audio mixes down to mono by integer averaging. All arithmetic is
  * integer or `StrictMath` — the same samples on any JVM.
  *
  * Fingerprint: a 64-bit ENERGY-CONTOUR hash ("eHash", the dHash idea
  * in the time domain): the mono signal splits into 65 equal frames
  * (integer block bounds, the [[Images.downscale]] arithmetic), each
  * frame's energy is Σ sample² (Long), and bit i is set where
  * energy(i) > energy(i+1). Comparing ADJACENT energies makes the
  * hash invariant under uniform gain change (a monotone transform
  * preserves every comparison — AudioSpec pins hamming == 0 under
  * ×5/4 amplification) and local in time: an edit confined to k
  * frames flips at most k+1 bits, the bound the planted-variant spec
  * leans on. Distinct recordings disagree on ~half the bits.
  *
  * Near-dup removal reuses the EXACT pigeonhole Hamming machinery
  * ([[Dedup.hammingNearDupPairs]]), so q143 exports the signatures
  * and DuckDB replays the whole decision brute-force — the q72/q141
  * oracle pattern.
  *
  * Scale shape: decode + fingerprint run in one `mapPartitions` scan
  * (bytes never on the driver, 8 B/clip out); the Hamming join is
  * value-level (byte-identical re-uploads collapse to one bucket
  * row, and [[Dedup.hammingDupIds]] drops them without listing
  * pairs); removal is a left_anti on ids.
  */
object Audio {

  /** Decode a RIFF/WAVE PCM payload to (sampleRate, nChannels,
    * mono-mixed samples). None for null/truncated/non-PCM input. */
  def decodePcm(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (bytes == null || bytes.length < 44) return None
    try {
      def u8(i: Int): Int = bytes(i) & 0xFF
      def u16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
      def i16(i: Int): Int = u16(i).toShort.toInt
      def u32(i: Int): Long = (u16(i).toLong | (u16(i + 2).toLong << 16)) & 0xFFFFFFFFL
      if (!(bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
          bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E'))
        return None
      var pos = 12
      var sampleRate = 0; var channels = 0; var bits = 0; var fmtOk = false
      var dataAt = -1; var dataLen = 0
      while (pos + 8 <= bytes.length && (dataAt < 0 || !fmtOk)) {
        val id = new String(bytes, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val sz = u32(pos + 4)
        if (sz > Int.MaxValue || pos + 8 + sz > bytes.length) {
          // truncated chunk: a partial data chunk is still decodable
          if (id == "data" && dataAt < 0) { dataAt = pos + 8; dataLen = bytes.length - dataAt }
          pos = bytes.length
        } else {
          id match {
            case "fmt " if sz >= 16 =>
              val audioFormat = u16(pos + 8)
              channels = u16(pos + 10)
              sampleRate = u32(pos + 12).toInt
              bits = u16(pos + 22)
              fmtOk = audioFormat == 1 && (bits == 8 || bits == 16) &&
                channels >= 1 && sampleRate > 0
            case "data" if dataAt < 0 =>
              dataAt = pos + 8; dataLen = sz.toInt
            case _ => ()
          }
          pos += 8 + sz.toInt + (sz.toInt & 1) // chunks are word-aligned
        }
      }
      if (!fmtOk || dataAt < 0 || channels == 0) return None
      val bytesPerSample = bits / 8
      val frameBytes = bytesPerSample * channels
      val nFrames = dataLen / frameBytes
      if (nFrames <= 0) return None
      val mono = new Array[Int](nFrames)
      var f = 0
      while (f < nFrames) {
        var sum = 0; var c = 0
        while (c < channels) {
          val at = dataAt + f * frameBytes + c * bytesPerSample
          sum += (if (bits == 16) i16(at) else u8(at) - 128)
          c += 1
        }
        mono(f) = sum / channels
        f += 1
      }
      Some((sampleRate, channels, mono))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** 64-bit energy-contour hash over 65 equal frames: bit i set where
    * frame-energy(i) > frame-energy(i+1). Gain-invariant, time-local. */
  def eHash64(samples: Array[Int]): Long = {
    val frames = 65
    val n = samples.length
    val energy = new Array[Long](frames)
    var t = 0
    while (t < frames) {
      val lo = (t.toLong * n / frames).toInt
      val hi = math.max(lo + 1, ((t + 1).toLong * n / frames).toInt)
      var e = 0L; var i = lo
      while (i < math.min(hi, n)) { val s = samples(i).toLong; e += s * s; i += 1 }
      energy(t) = e
      t += 1
    }
    var sig = 0L; t = 0
    while (t < 64) {
      if (energy(t) > energy(t + 1)) sig |= (1L << t)
      t += 1
    }
    sig
  }

  final case class AudioSig(id: Long, decoded: Boolean,
      sample_rate: Option[Int], n_samples: Option[Int],
      duration_ms: Option[Long], ehash: Option[Long])

  /** Per-clip signature row: `(<idCol>, decoded, sample_rate,
    * n_samples, duration_ms, ehash)`; undecodable payloads quarantine
    * as `decoded = false` rows. One `mapPartitions` scan. */
  def audioSignatures(df: DataFrame, idCol: String, contentCol: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), contentCol.cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { iter =>
        iter.map { case (id, bytes) =>
          decodePcm(bytes) match {
            case Some((sr, _, mono)) =>
              AudioSig(id, decoded = true, Some(sr), Some(mono.length),
                Some(mono.length * 1000L / sr), Some(eHash64(mono)))
            case None => AudioSig(id, decoded = false, None, None, None, None)
          }
        }
      }
      .toDF().withColumnRenamed("id", idCol)
  }

  /** Acoustic near-dup dedup: decode, eHash, drop every clip within
    * `maxHamming` bits of a LOWER-id clip (seen-not-kept, the
    * [[Images.imageNearDedup]] contract). Undecodable clips survive. */
  def audioNearDedup(df: DataFrame, idCol: String, contentCol: Column,
      maxHamming: Int = 8): DataFrame = {
    val sigs = audioSignatures(df, idCol, contentCol)
    val dupIds = Dedup.hammingDupIds(sigs, idCol, "ehash", maxHamming)
      .localCheckpoint(true)
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  // ======== deterministic synthetic WAV corpus (test/bench fixture
  // generation — executor-side, seeded, no I/O) ========

  /** Deterministic mono 16-bit PCM WAV, 6500 samples at 8 kHz: a sine
    * whose per-frame amplitude (65 frames of 100 samples) is a PRF of
    * (scene, frame) in [2000, 30000] — frame energies are therefore
    * well-separated, so the eHash comparisons are robust.
    * `variant > 0` overwrites the amplitudes of 3 fixed mid frames
    * with variant-keyed values — flips at most 4 eHash bits (the
    * planted near-dup geometry AudioSpec pins and q143 thresholds at
    * 8). `gainNum/gainDen` scale every sample (integer division) —
    * the gain-invariance fixture. */
  def syntheticWav(scene: Long, variant: Int,
      gainNum: Int = 1, gainDen: Int = 1): Array[Byte] = {
    val frames = 65; val perFrame = 100; val n = frames * perFrame
    val sr = 8000
    val samples = new Array[Int](n)
    var f = 0
    while (f < frames) {
      val keyed =
        if (variant > 0 && f >= 30 && f <= 32)
          graft.functions.Bits.mix64(scene ^ (variant.toLong << 40) ^ f.toLong)
        else graft.functions.Bits.mix64(graft.functions.Bits.mix64(scene) ^ f.toLong)
      // amp ≤ 24000 keeps a 5/4 gain fixture under the 16-bit clip
      val amp = 2000 + (Math.floorMod(keyed, 22000L)).toInt
      val freq = 200 + (Math.floorMod(graft.functions.Bits.mix64(scene ^ 0x5EEDL), 1800L)).toInt
      var i = 0
      while (i < perFrame) {
        val t = f * perFrame + i
        val v = amp * StrictMath.sin(2.0 * StrictMath.PI * freq * t / sr)
        samples(t) = StrictMath.round(v).toInt * gainNum / gainDen
        i += 1
      }
      f += 1
    }
    val out = new ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def w32(v: Int): Unit = { w16(v & 0xFFFF); w16((v >>> 16) & 0xFFFF) }
    out.write("RIFF".getBytes("US-ASCII")); w32(36 + 2 * n)
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); w32(16)
    w16(1); w16(1); w32(sr); w32(sr * 2); w16(2); w16(16)
    out.write("data".getBytes("US-ASCII")); w32(2 * n)
    samples.foreach(s => w16(math.max(-32768, math.min(32767, s))))
    out.toByteArray
  }

  /** Synthetic audio corpus keyed by an id frame — scene = id /
    * `variantsPerScene`, planted near-dup variants, every
    * `corruptEvery`-th payload undecodable; the [[Images
    * .syntheticCorpus]] layout for the audio modality. */
  def syntheticCorpus(ids: DataFrame, idCol: String,
      variantsPerScene: Int = 3, corruptEvery: Int = 97): DataFrame = {
    val spark = ids.sparkSession
    val vps = variantsPerScene; val ce = corruptEvery
    import spark.implicits._
    Dedup.spreadWide(ids.select(col(idCol).cast("long"))).as[Long].map { id =>
      val content =
        if (ce > 0 && id % ce == 0) Array[Byte]('R', 'I', 'F', 'F', 0x01)
        else syntheticWav(id / vps, (id % vps).toInt)
      (id, content)
    }.toDF(idCol, "content")
  }
}
