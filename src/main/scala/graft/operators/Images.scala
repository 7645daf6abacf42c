package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Real image decode + perceptual-hash near-duplicate detection for
  * the multimodal (`binary`) column family.
  *
  * Unlike [[Multimodal.MediaCodec]] (the honest stub for codecs this
  * container lacks), the IMAGE path needs no external library:
  * `javax.imageio` ships in the JDK and decodes PNG/JPEG/GIF/BMP —
  * the same no-external-deps stance that built the PDF source
  * (`sources/Pdf.scala`). Reference behavior covered: media ingestion
  * stores image payloads as opaque bytes next to typed metadata
  * (`/root/reference/src/pipelines/multimodal_ingest.py`) and
  * curation needs image-level near-dup removal the reference leaves
  * to an external tool.
  *
  * Pipeline: decode → integer luma grayscale → area-average downscale
  * → 64-bit perceptual signature →
  * [[Dedup.hammingNearDupPairs]] pigeonhole-banded Hamming join →
  * keep-lowest-id anti-join. Two signatures:
  *
  *  - '''aHash''' (average hash): 8×8 grayscale, bit set where the
  *    cell exceeds the global cell mean. Cheap, but a global-mean
  *    shift (brightness edit) can flip borderline bits anywhere.
  *  - '''dHash''' (difference hash): 9×8 grayscale, bit set where a
  *    cell exceeds its right neighbor. Mean-free and LOCAL: an edit
  *    confined to a k×k pixel patch can only flip bits whose cells
  *    intersect the patch — the property ImagesSpec exploits to bound
  *    planted-near-dup distance, and the reason [[imageNearDedup]]
  *    defaults to dHash.
  *
  * Every step is integer arithmetic on decoded pixels (luma =
  * (299r+587g+114b)/1000, block bounds = floor(t·W/T)), so a
  * signature is a pure deterministic function of decoded pixel
  * values — PNG being lossless, generate→encode→decode→hash is
  * reproducible on any JVM, which is what lets q141 export
  * signatures and have DuckDB replay the ENTIRE near-dup decision
  * (the q72 pattern; banding is exact by the pigeonhole guarantee).
  *
  * Scale shape (100 TB of images): decode runs in `mapPartitions`
  * (codec scratch amortized per task, bytes never on the driver); the
  * Hamming join is value-level — [[Dedup.hammingGroups]] collects
  * each signature's ids BEFORE banding, so a million byte-exact
  * re-encodes of one meme cost one value row, not a 10¹²-row bucket —
  * and [[imageNearDedup]] drops every id above the lowest id within
  * budget ([[Dedup.hammingDupIds]]) without listing the 10¹² pairs. Undecodable payloads (truncated file, wrong magic)
  * yield `decoded = false` rows that pass through un-deduped rather
  * than poisoning the join (counted, never thrown).
  */
object Images {

  /** Decode to (width, height, row-major integer luma 0..255).
    * Returns None for null/empty/undecodable bytes — error tolerance
    * is the S3/JSONL contract: quarantine, don't throw.
    *
    * The bytes are already in memory, so the reader gets an explicit
    * [[MemoryCacheImageInputStream]]: ImageIO's default behavior
    * (`getUseCache`) spools every input to an executor TEMP FILE
    * first — one create/write/delete per image (and per video frame)
    * is pure /tmp pressure in the hot decode path at corpus scale. */
  def decodeGray(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (bytes == null || bytes.length == 0) return None
    try {
      val img = readImage(bytes)
      if (img == null) return None
      val w = img.getWidth; val h = img.getHeight
      if (w <= 0 || h <= 0) return None
      // one BULK getRGB (not per-pixel getRGB(x, y), whose per-call
      // ColorModel conversion is the slow ImageIO access path — 2-5×
      // on large images, and decode is the dominant linear cost of an
      // image corpus). Same conversion pipeline → same sRGB ints →
      // signatures stay bit-identical (ImagesSpec pins them). Luma is
      // computed IN PLACE over the returned array: a second w·h int
      // buffer would double transient allocation per image (real GC
      // pressure on 8k-frame corpora).
      val gray = img.getRGB(0, 0, w, h, null, 0, w)
      var i = 0
      while (i < gray.length) {
        val rgb = gray(i)
        val r = (rgb >> 16) & 0xFF; val g = (rgb >> 8) & 0xFF; val b = rgb & 0xFF
        gray(i) = (299 * r + 587 * g + 114 * b) / 1000
        i += 1
      }
      Some((w, h, gray))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Per-thread ImageReader cache keyed by container format.
    *
    * `ImageIO.read(stream)` re-runs service-registry reader DISCOVERY
    * and constructs a fresh reader per call — for corpus-scale decode
    * of SMALL images (32×32 stills, per-frame MJPEG payloads) that
    * fixed cost rivals the decode itself. The format is sniffed from
    * the magic bytes and a per-thread reader of the SAME JDK plugin
    * class `ImageIO.read` would have selected is reused with
    * `setInput(stream, seekForwardOnly=true, ignoreMetadata=true)` +
    * `read(0)` — exactly `ImageIO.read`'s call sequence, same codec,
    * same pixels, so signatures stay bit-identical (ImagesSpec /
    * VideoSpec pin them). Unknown magics fall back to `ImageIO.read`
    * verbatim; a reader that throws is disposed and dropped (never
    * reused dirty). Executor task threads are reused across tasks, so
    * the cache amortizes across the whole executor lifetime. */
  private val readerCache =
    new ThreadLocal[java.util.HashMap[String, javax.imageio.ImageReader]] {
      override def initialValue(): java.util.HashMap[String, javax.imageio.ImageReader] =
        new java.util.HashMap()
    }

  /** Encode `img` as `fmt` — `ImageIO.write` on an explicit memory-cache
    * stream (the default write path spools through an executor temp
    * file, see [[decodeGray]]). Throws IllegalArgumentException when no
    * ImageWriter handles `fmt` for this image type (`ImageIO.write`
    * itself only returns false, which would yield empty bytes). */
  private[graft] def encodeImage(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val mos = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try require(ImageIO.write(img, fmt, mos), s"no ImageWriter for format $fmt")
    finally mos.close()
    bos.toByteArray
  }

  private def sniffFormat(b: Array[Byte]): String =
    if (b.length >= 8 && (b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
      b(3) == 'G') "png"
    else if (b.length >= 3 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) "jpeg"
    else if (b.length >= 4 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F') "gif"
    else if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') "bmp"
    else null

  private def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val fmt = sniffFormat(bytes)
    val fresh = () => ImageIO.read(
      new javax.imageio.stream.MemoryCacheImageInputStream(
        new ByteArrayInputStream(bytes)))
    if (fmt == null) return fresh()
    val cache = readerCache.get()
    var reader = cache.get(fmt)
    if (reader == null) {
      val it = ImageIO.getImageReadersByFormatName(fmt)
      if (!it.hasNext) return fresh()
      reader = it.next()
      cache.put(fmt, reader)
    }
    val stream = new javax.imageio.stream.MemoryCacheImageInputStream(
      new ByteArrayInputStream(bytes))
    try {
      reader.setInput(stream, true, true)
      reader.read(0)
    } catch { case e: Throwable =>
      // never reuse a reader that threw mid-decode — its internal
      // state may be corrupt; the next call re-creates one
      cache.remove(fmt)
      try reader.dispose() catch { case _: Throwable => () }
      throw e
    } finally {
      try stream.close() catch { case _: Throwable => () }
    }
  }

  /** Area-average downscale to tw×th (row-major). Integer block
    * bounds floor(t·W/T); every source pixel in exactly one block
    * when W ≥ T, nearest-pixel duplication when W < T. */
  private[graft] def downscale(w: Int, h: Int, gray: Array[Int],
      tw: Int, th: Int): Array[Int] = {
    val out = new Array[Int](tw * th)
    var ty = 0
    while (ty < th) {
      val y0 = ty * h / th; val y1 = math.max(y0 + 1, (ty + 1) * h / th)
      var tx = 0
      while (tx < tw) {
        val x0 = tx * w / tw; val x1 = math.max(x0 + 1, (tx + 1) * w / tw)
        var sum = 0L; var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += gray(y * w + x); n += 1; x += 1 }
          y += 1
        }
        out(ty * tw + tx) = (sum / n).toInt
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** 64-bit average hash: 8×8 cells, bit i set where cell(i) > mean. */
  def aHash64(w: Int, h: Int, gray: Array[Int]): Long = {
    val cells = downscale(w, h, gray, 8, 8)
    var sum = 0L; var i = 0
    while (i < 64) { sum += cells(i); i += 1 }
    val mean = sum / 64
    var sig = 0L; i = 0
    while (i < 64) { if (cells(i) > mean) sig |= (1L << i); i += 1 }
    sig
  }

  /** 64-bit difference hash: 9×8 cells, bit (row*8+col) set where
    * cell(col) > cell(col+1) in that row. */
  def dHash64(w: Int, h: Int, gray: Array[Int]): Long = {
    val cells = downscale(w, h, gray, 9, 8)
    var sig = 0L
    var row = 0
    while (row < 8) {
      var c = 0
      while (c < 8) {
        if (cells(row * 9 + c) > cells(row * 9 + c + 1))
          sig |= (1L << (row * 8 + c))
        c += 1
      }
      row += 1
    }
    sig
  }

  final case class ImageSig(id: Long, decoded: Boolean,
      width: Option[Int], height: Option[Int],
      ahash: Option[Long], dhash: Option[Long])

  /** Per-image signature row: `(<idCol>, decoded, width, height,
    * ahash, dhash)`. Decode in `mapPartitions` so a real codec's
    * per-task init would amortize; undecodable rows come back with
    * `decoded = false` and null hashes (kept, never dropped — the
    * caller decides quarantine policy). Only (id, bytes) ride the
    * task; signatures are 16 bytes/image out. */
  def imageSignatures(df: DataFrame, idCol: String, contentCol: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), contentCol.cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { iter =>
        iter.map { case (id, bytes) =>
          decodeGray(bytes) match {
            case Some((w, h, gray)) =>
              ImageSig(id, decoded = true, Some(w), Some(h),
                Some(aHash64(w, h, gray)), Some(dHash64(w, h, gray)))
            case None => ImageSig(id, decoded = false, None, None, None, None)
          }
        }
      }
      .toDF().withColumnRenamed("id", idCol)
  }

  /** Perceptual near-dup image dedup: decode, dHash, drop every image
    * whose signature is within `maxHamming` bits of a LOWER-id image
    * (the [[Dedup.simhashNearDedup]] contract — compared against every
    * seen image, not just survivors), from [[Dedup.hammingDupIds]].
    * Undecodable images always survive (no signature, nothing
    * provable). Removal is a left_anti on ids — never a driver-side
    * set. */
  def imageNearDedup(df: DataFrame, idCol: String, contentCol: Column,
      maxHamming: Int = 8): DataFrame = {
    val sigs = imageSignatures(df, idCol, contentCol)
    val dupIds = Dedup.hammingDupIds(sigs, idCol, "dhash", maxHamming)
      .localCheckpoint(true)
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  // ======== deterministic synthetic image corpus (test/bench fixture
  // generation — executor-side, seeded, no I/O) ========

  /** splitmix64 — the fixture's pixel PRF. */
  /** Deterministic 32×32 RGB PNG: pixels are a PRF of (scene, x, y);
    * `variant > 0` overwrites a fixed 3×3 patch with variant-keyed
    * pixels. A 3×3 patch on a 32×32 image intersects ≤ 2×2 cells of
    * the 9×8 dHash grid, so a variant's dHash is ≤ 6 bits from its
    * scene's — the planted near-dup geometry ImagesSpec pins and q141
    * thresholds at 8. PNG is lossless: decode returns these exact
    * pixels on any JVM. */
  def syntheticPng(scene: Long, variant: Int, w: Int = 32, h: Int = 32): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val hpx = graft.functions.Bits.mix64(graft.functions.Bits.mix64(scene) ^ (x.toLong << 20) ^ y.toLong)
        img.setRGB(x, y, (hpx & 0xFFFFFF).toInt)
        x += 1
      }
      y += 1
    }
    if (variant > 0) {
      val px = 12; val py = 12 // fixed patch corner, interior
      var dy = 0
      while (dy < 3) {
        var dx = 0
        while (dx < 3) {
          val hpx = graft.functions.Bits.mix64(graft.functions.Bits.mix64(scene ^ (variant.toLong << 40)) ^
            ((px + dx).toLong << 20) ^ (py + dy).toLong)
          img.setRGB(px + dx, py + dy, (hpx & 0xFFFFFF).toInt)
          dx += 1
        }
        dy += 1
      }
    }
    encodeImage(img, "png")
  }

  /** Synthetic image corpus keyed by an id frame: scene = id /
    * `variantsPerScene`, variant = id mod `variantsPerScene` — ids
    * sharing a scene are planted near-dups of its variant-0 base.
    * Ids ≡ 0 (mod `corruptEvery`) get UNDECODABLE bytes (a truncated
    * junk payload) to exercise the quarantine path. Generation and
    * PNG encode run distributed (one narrow map); row count — and so
    * the corpus — scales with the id frame. */
  def syntheticCorpus(ids: DataFrame, idCol: String,
      variantsPerScene: Int = 3, corruptEvery: Int = 97): DataFrame = {
    val spark = ids.sparkSession
    val vps = variantsPerScene; val ce = corruptEvery
    import spark.implicits._
    Dedup.spreadWide(ids.select(col(idCol).cast("long"))).as[Long].map { id =>
      val content =
        if (ce > 0 && id % ce == 0) Array[Byte](0x50, 0x4E, 0x47, 0x00, 0x01)
        else syntheticPng(id / vps, (id % vps).toInt)
      (id, content)
    }.toDF(idCol, "content")
  }
}
