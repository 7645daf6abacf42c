package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Real video decode + clip-level near-duplicate detection — the
  * third modality of the multimodal family ([[Images]] stills,
  * [[Audio]] WAV, this file MJPEG-in-AVI clips), and the end of
  * [[Multimodal.MediaCodec]]'s frame-sampling stub: an AVI container
  * is a RIFF tree (the [[Audio.decodePcm]] walk) and an MJPEG frame
  * is a JPEG payload `javax.imageio` already decodes (the [[Images]]
  * path) — no codec library required.
  *
  * Decoder: walk the RIFF `AVI ` tree to the `movi` LIST and collect
  * `..dc`/`..db` chunk payloads (compressed/uncompressed frame data;
  * stream number ignored — single-video-stream envelope); every
  * `everyNth`-th frame is decoded to grayscale and dHashed with the
  * EXACT image pipeline, so a still extracted from a clip and the
  * same still ingested as an image get identical signatures.
  * Truncated files yield their available frames; malformed files
  * quarantine (None), never throw.
  *
  * Clip-level near-dup: two clips match when at least `minFrames` of
  * their SAMPLED frame positions are pairwise within `maxHamming`
  * bits — re-encodes and light edits perturb frames locally, while
  * requiring agreement at the same sample position keeps unrelated
  * clips apart. The pair enumeration is the engine's one Hamming pair
  * join ([[Dedup.hammingIdPairs]]) with the position folded into
  * its shard key, so the state of the art for 100 TB of video is
  * unchanged from the text path: value-level banded equi-join +
  * popcount verify + per-pair frame count, no cross join anywhere. The oracle (q145) replays the whole decision
  * from exported per-frame signatures.
  *
  * Scale shape: decode+sample+hash is one `mapPartitions` scan (bytes
  * never on the driver; a clip emits `nSampled` 16-byte rows);
  * sampling stride `everyNth` is the cost knob (the reference decodes
  * every frame it transcribes — sampling is what makes dedup
  * affordable BEFORE the expensive model pass).
  */
object Video {

  /** MJPEG frame payloads of an AVI, in stream order. None = not an
    * AVI / no movi list; truncated movi yields available frames. */
  def aviFrames(bytes: Array[Byte]): Option[Seq[Array[Byte]]] = {
    if (bytes == null || bytes.length < 24) return None
    try {
      def u32(i: Int): Long =
        ((bytes(i) & 0xFFL)) | ((bytes(i + 1) & 0xFFL) << 8) |
          ((bytes(i + 2) & 0xFFL) << 16) | ((bytes(i + 3) & 0xFFL) << 24)
      def fourcc(i: Int): String =
        if (i + 4 <= bytes.length)
          new String(bytes, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
        else ""
      if (fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return None
      // find the movi LIST at top level (lists can precede it).
      // Advances are computed in LONG space and a chunk whose declared
      // size runs past the buffer ends the scan (treat as truncated —
      // Audio.decodePcm's guard): a corrupt size near 0xFFFFFFFF would
      // otherwise wrap (8 + sz + pad).toInt to 0 and the loop would
      // never advance — a 24-byte malformed file must quarantine, not
      // hang the executor task.
      var pos = 12
      var moviAt = -1; var moviEnd = -1
      var truncated = false
      while (pos + 12 <= bytes.length && moviAt < 0 && !truncated) {
        val id = fourcc(pos); val sz = u32(pos + 4)
        if (id == "LIST" && fourcc(pos + 8) == "movi") {
          moviAt = pos + 12
          moviEnd = math.min(bytes.length.toLong, pos + 8 + sz).toInt
        } else {
          val adv = 8L + sz + (sz & 1L)
          if (pos + adv > bytes.length) truncated = true
          else pos += adv.toInt
        }
      }
      if (moviAt < 0) return None
      val frames = Seq.newBuilder[Array[Byte]]
      var p = moviAt
      var done = false
      while (p + 8 <= moviEnd && !done) {
        val id = fourcc(p); val sz = u32(p + 4)
        val end = math.min(moviEnd.toLong, p + 8 + sz).toInt
        if (id.length == 4 && (id.endsWith("dc") || id.endsWith("db")) && end > p + 8)
          frames += java.util.Arrays.copyOfRange(bytes, p + 8, end)
        val adv = 8L + sz + (sz & 1L)
        // declared size past the movi end: the final (truncated) chunk
        // was already clamped and emitted above — stop advancing
        if (p + adv > moviEnd) done = true
        else p += adv.toInt
      }
      val out = frames.result()
      if (out.isEmpty) None else Some(out)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  final case class FrameSig(id: Long, frame_pos: Int, dhash: Long)
  final case class ClipInfo(id: Long, decoded: Boolean, n_frames: Option[Int])

  /** Per-sampled-frame dHash rows `(<idCol>, frame_pos, dhash)` —
    * frame_pos is the SAMPLE index (0, 1, 2…), so two clips sampled
    * at the same stride align positionally. Frames that fail JPEG
    * decode are skipped (a clip with zero decodable frames simply
    * emits nothing here; [[clipInfo]] reports it). */
  def frameSignatures(df: DataFrame, idCol: String, contentCol: Column,
      everyNth: Int = 2): DataFrame = {
    require(everyNth >= 1, "everyNth must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), contentCol.cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { iter =>
        iter.flatMap { case (id, bytes) =>
          aviFrames(bytes).toSeq.flatMap { frames =>
            frames.indices.by(everyNth).zipWithIndex.flatMap { case (fi, si) =>
              Images.decodeGray(frames(fi)).map { case (w, h, gray) =>
                FrameSig(id, si, Images.dHash64(w, h, gray))
              }
            }
          }
        }
      }
      .toDF().withColumnRenamed("id", idCol)
  }

  /** Per-clip decode report: `(<idCol>, decoded, n_frames)`. */
  def clipInfo(df: DataFrame, idCol: String, contentCol: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), contentCol.cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        aviFrames(bytes) match {
          case Some(fs) => ClipInfo(id, decoded = true, Some(fs.length))
          case None => ClipInfo(id, decoded = false, None)
        }
      })
      .toDF().withColumnRenamed("id", idCol)
  }

  /** Clip pairs (id_a < id_b, matched_frames) where at least
    * `minFrames` sampled positions are pairwise within `maxHamming`
    * bits: [[Dedup.hammingIdPairs]] over the frame signature groups
    * ([[Dedup.hammingGroups]]) with `frame_pos` folded into the shard key, so frames only meet frames
    * at their own sample position, then a per-pair distinct-position
    * count. EXACT, like every caller of that core. `shardCols`
    * (columns of `frameSigs`, constant per clip — source/day/tenant)
    * join the position in the key exactly like
    * [[Dedup.hammingNearDupPairs]]'s: pairs are sought only WITHIN
    * equal shard values, bounding the residual per-(position, bucket)
    * quadratic term to each shard's clips — the >10⁶-signature
    * envelope escape for batch video self-joins. */
  def clipNearDupPairs(frameSigs: DataFrame, idCol: String,
      maxHamming: Int = 8, minFrames: Int = 2,
      shardCols: Seq[String] = Nil): DataFrame =
    Dedup.hammingIdPairs(Dedup.hammingGroups(frameSigs, idCol, "dhash",
        "frame_pos" +: shardCols, spread = false), maxHamming)
      .groupBy(col("id_a"), col("id_b"))
      // the set of matched positions, not a distinct + count: one
      // exchange on the id pair instead of two
      .agg(size(collect_set(col("__shard.frame_pos"))).cast("long").as("matched_frames"))
      .filter(col("matched_frames") >= minFrames)

  /** True when ANY sampled frame of the clip is within the index's
    * budget of a flagged still — the cross-modal decision the video
    * wave's blocklist screen ([[graft.IngestCli.ingestVideoWave]]) makes
    * over its frame signatures, as one short-circuiting function over
    * the raw bytes for a stateless typed filter, batch or streaming
    * ([[graft.streaming.StreamOps.videoBlockGateStream]]).
    * Undecodable clips and frames are never blocked (nothing
    * provable); `everyNth` must match the enforcement contract's
    * sampling grid. */
  def clipBlocked(bytes: Array[Byte], index: Dedup.HammingIndex,
      everyNth: Int = 2): Boolean =
    aviFrames(bytes).exists { frames =>
      frames.indices.by(everyNth).exists { fi =>
        Images.decodeGray(frames(fi)).exists { case (w, h, gray) =>
          graft.functions.HammingNearSet.near(
            Images.dHash64(w, h, gray), index.maxHamming,
            index.buckets, index.sigs)
        }
      }
    }

  /** Clip-level near-dup dedup: decode → sample → dHash → drop every
    * clip matching a LOWER-id clip on ≥ `minFrames` sampled
    * positions. Undecodable clips survive (nothing provable). */
  def videoNearDedup(df: DataFrame, idCol: String, contentCol: Column,
      everyNth: Int = 2, maxHamming: Int = 8, minFrames: Int = 2): DataFrame = {
    val sigs = frameSignatures(df, idCol, contentCol, everyNth)
    val dupIds = clipNearDupPairs(sigs, idCol, maxHamming, minFrames)
      .select(col("id_b").as(idCol)).distinct()
      .localCheckpoint(true)
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** The RECURRING form of [[videoNearDedup]]: drop every clip of a
    * crawl wave whose sampled frames match a clip already in the
    * persisted positional Hamming state
    * ([[Incremental.writeFrameHammingState]]) on ≥ `minFrames`
    * positions. Decode once per wave; the probe shuffles only the
    * wave's banded frames (state streams bucket-aligned from disk),
    * so a video crawl's per-wave cost stops growing with corpus age —
    * without this the only option was re-running the batch self-join
    * over everything ever crawled, or mis-modeling clips as single
    * signatures. Undecodable clips survive (no frame rows, nothing
    * provable); `everyNth` must match the stride the state was built
    * at (positions are SAMPLE indices — a stride change renumbers
    * them, exactly like re-shingling a MinHash corpus); `shardCol`
    * (a per-clip constant column of `df`, e.g. source or series)
    * must likewise match the state's — matches are sought only
    * within equal shard values, and the `_meta` row refuses a
    * sharded/shardless mix loudly. */
  def dedupAgainstState(df: DataFrame, idCol: String, contentCol: Column,
      state: DataFrame, everyNth: Int = 2, maxHamming: Int = 8,
      minFrames: Int = 2,
      shardCol: Option[String] = None): DataFrame = {
    val sigs0 = frameSignatures(df, idCol, contentCol, everyNth)
    // the shard is clip-level metadata: re-attach by id (the content
    // column prunes out of this branch, so the join side is tiny)
    val sigs = shardCol.fold(sigs0)(c =>
      sigs0.join(df.select(col(idCol), col(c)), Seq(idCol)))
    val dupIds = Incremental.frameHammingDupIdsAgainstTable(sigs, idCol,
        "dhash", state, maxHamming, minFrames, everyNth, shardCol)
      .localCheckpoint(true)
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  // ======== deterministic synthetic MJPEG-AVI corpus ========

  private def jpegBytes(img: java.awt.image.BufferedImage): Array[Byte] =
    // ImageIO.write on a memory-cache stream (Images.encodeImage); runs
    // only while rendering the synthetic corpus, never on a decode path
    Images.encodeImage(img, "jpg")

  /** A deterministic MJPEG AVI: `nFrames` 32×32 frames; frame f's
    * pixels are [[Images.syntheticPng]]-style PRF of (scene, f, x, y).
    * `variant > 0` replaces the CONTENT of frames 2 and 5 — with the
    * default stride 2 the sampled positions are frames 0/2/4/6, so a
    * variant MISMATCHES its scene at sample position 1 and still
    * matches at 3 of 4 positions (genuine partial overlap, above the
    * `minFrames = 2` bar). JPEG is lossy but the JDK codec is
    * deterministic — same pixels, same bytes, so untouched frames
    * hash identically. */
  def syntheticAvi(scene: Long, variant: Int, nFrames: Int = 8): Array[Byte] = {
    val frames = (0 until nFrames).map { f =>
      val img = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val sceneKey =
        if (variant > 0 && (f == 2 || f == 5)) scene ^ (variant.toLong << 40) ^ 0xF00DL
        else scene
      var y = 0
      while (y < 32) {
        var x = 0
        while (x < 32) {
          val h = graft.functions.Bits.mix64(graft.functions.Bits.mix64(sceneKey ^ (f.toLong << 50)) ^ (x.toLong << 20) ^ y.toLong)
          img.setRGB(x, y, (h & 0xFFFFFF).toInt)
          x += 1
        }
        y += 1
      }
      jpegBytes(img)
    }
    val movi = new ByteArrayOutputStream()
    frames.foreach { f =>
      movi.write("00dc".getBytes("US-ASCII"))
      movi.write(le32(f.length)); movi.write(f)
      if ((f.length & 1) == 1) movi.write(0) // word alignment
    }
    val out = new ByteArrayOutputStream()
    val moviBytes = movi.toByteArray
    out.write("RIFF".getBytes("US-ASCII"))
    out.write(le32(4 + 8 + 4 + moviBytes.length))
    out.write("AVI ".getBytes("US-ASCII"))
    out.write("LIST".getBytes("US-ASCII"))
    out.write(le32(4 + moviBytes.length))
    out.write("movi".getBytes("US-ASCII"))
    out.write(moviBytes)
    out.toByteArray
  }

  private def le32(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >>> 24) & 0xFF).toByte)

  /** Synthetic clip corpus keyed by an id frame — the [[Images
    * .syntheticCorpus]] layout for the video modality. */
  def syntheticCorpus(ids: DataFrame, idCol: String,
      variantsPerScene: Int = 3, corruptEvery: Int = 97): DataFrame = {
    val spark = ids.sparkSession
    val vps = variantsPerScene; val ce = corruptEvery
    import spark.implicits._
    Dedup.spreadWide(ids.select(col(idCol).cast("long"))).as[Long].map { id =>
      val content =
        if (ce > 0 && id % ce == 0) Array[Byte]('R', 'I', 'F', 'F', 0x02)
        else syntheticAvi(id / vps, (id % vps).toInt)
      (id, content)
    }.toDF(idCol, "content")
  }
}
