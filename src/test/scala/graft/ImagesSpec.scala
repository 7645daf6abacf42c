package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Images}

/** Real image decode (javax.imageio) + perceptual-hash near-dup:
  * decoded pixels round-trip PNG exactly, planted 3×3-patch variants
  * stay within the dHash budget, distinct scenes stay far, corrupt
  * payloads quarantine instead of throwing, and the Hamming machinery
  * returns the exact pair set. */
class ImagesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("decodeGray round-trips the synthetic PNG's exact pixels") {
    val bytes = Images.syntheticPng(scene = 5L, variant = 0)
    val Some((w, h, gray)) = Images.decodeGray(bytes)
    assert(w == 32 && h == 32 && gray.length == 1024)
    assert(gray.forall(g => g >= 0 && g <= 255))
    // decode is deterministic and lossless: re-encode → re-decode
    // yields identical pixels, hence identical signatures
    val Some((_, _, gray2)) = Images.decodeGray(Images.syntheticPng(5L, 0))
    assert(gray.sameElements(gray2))
    assert(Images.dHash64(w, h, gray) == Images.dHash64(w, h, gray2))
  }

  test("undecodable / null / empty bytes -> None, never a throw") {
    assert(Images.decodeGray(null).isEmpty)
    assert(Images.decodeGray(Array.emptyByteArray).isEmpty)
    assert(Images.decodeGray(Array[Byte](0x50, 0x4E, 0x47, 0x00, 0x01)).isEmpty)
    // fuzz: random junk must be total
    val rnd = new scala.util.Random(11)
    (0 until 50).foreach { _ =>
      val junk = Array.fill(rnd.nextInt(200))(rnd.nextInt().toByte)
      Images.decodeGray(junk) // must not throw; result may be anything
    }
  }

  test("downscale: area averages with integer block bounds") {
    // 4x2 image -> 2x1: each cell averages a 2x2 block
    val gray = Array(10, 20, 30, 40, 50, 60, 70, 80) // rows: [10 20 30 40] [50 60 70 80]
    val out = Images.downscale(4, 2, gray, 2, 1)
    assert(out.toSeq == Seq((10 + 20 + 50 + 60) / 4, (30 + 40 + 70 + 80) / 4))
    // identity when sizes match
    assert(Images.downscale(2, 2, Array(1, 2, 3, 4), 2, 2).toSeq == Seq(1, 2, 3, 4))
  }

  test("planted 3x3-patch variants stay within 6 dHash bits of base; distinct scenes stay far") {
    val sigs = (0L until 40L).map { scene =>
      val Some((w, h, g)) = Images.decodeGray(Images.syntheticPng(scene, 0))
      scene -> Images.dHash64(w, h, g)
    }.toMap
    (0L until 40L).foreach { scene =>
      (1 to 2).foreach { v =>
        val Some((w, h, g)) = Images.decodeGray(Images.syntheticPng(scene, v))
        val d = ham(sigs(scene), Images.dHash64(w, h, g))
        assert(d <= 6, s"variant $v of scene $scene drifted $d bits")
      }
    }
    // cross-scene distances concentrate near 32; none sneak under the
    // dedup threshold
    val cross = for (a <- 0L until 40L; b <- (a + 1) until 40L)
      yield ham(sigs(a), sigs(b))
    assert(cross.min > 8, s"closest distinct-scene pair: ${cross.min} bits")
  }

  test("imageSignatures: decode flags, dims, determinism, corrupt quarantine") {
    val imgs = Images.syntheticCorpus(
      spark.range(0, 120).toDF("doc_id"), "doc_id",
      variantsPerScene = 3, corruptEvery = 40)
    val sigs = Images.imageSignatures(imgs, "doc_id", col("content")).cache()
    assert(sigs.count() == 120)
    val bad = sigs.filter(!col("decoded")).select("doc_id").as[Long].collect().sorted
    assert(bad.toSeq == Seq(0L, 40L, 80L))
    assert(sigs.filter(!col("decoded")).filter(col("dhash").isNotNull).count() == 0)
    assert(sigs.filter(col("decoded"))
      .filter(col("width") =!= 32 || col("height") =!= 32).count() == 0)
    // distributed signatures == local ones
    val local = Images.syntheticPng(7L, 1) // doc_id 22 = scene 7 variant 1
    val Some((w, h, g)) = Images.decodeGray(local)
    val row22 = sigs.filter(col("doc_id") === 22).select("ahash", "dhash").head()
    assert(row22.getLong(0) == Images.aHash64(w, h, g))
    assert(row22.getLong(1) == Images.dHash64(w, h, g))
    sigs.unpersist(blocking = false)
  }

  test("nearDupPairs == brute-force Hamming pairs (exact, both hashes)") {
    val imgs = Images.syntheticCorpus(
      spark.range(0, 90).toDF("doc_id"), "doc_id",
      variantsPerScene = 3, corruptEvery = 0)
    val sigs = Images.imageSignatures(imgs, "doc_id", col("content")).cache()
    val vals = sigs.select("doc_id", "dhash").as[(Long, Long)].collect()
    val brute = (for {
      (ia, sa) <- vals; (ib, sb) <- vals
      if ia < ib && ham(sa, sb) <= 8
    } yield (ia, ib)).toSet
    val engine = Dedup.hammingNearDupPairs(sigs, "doc_id", "dhash", maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(engine == brute)
    // every planted (scene-base, variant) pair is recalled
    val planted = (0L until 90L by 3L).flatMap(b => Seq((b, b + 1), (b, b + 2))).toSet
    assert(planted.subsetOf(engine), s"missed: ${planted.diff(engine).take(5)}")
    sigs.unpersist(blocking = false)
  }

  test("encodeImage == ImageIO.write bit-for-bit, png and jpg, across reuse") {
    // the per-thread cached writer must emit the EXACT bytes a fresh
    // ImageIO.write call does (same plugin, same call sequence) —
    // including on the 2nd+ use of the cached writer, which is the
    // reuse path every synthetic-corpus row after the first takes
    def reference(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val mos = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      javax.imageio.ImageIO.write(img, fmt, mos)
      mos.close()
      bos.toByteArray
    }
    def img(scene: Long, variant: Int): java.awt.image.BufferedImage = {
      val b = Images.syntheticPng(scene, variant)
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
    }
    for (fmt <- Seq("png", "jpg"); scene <- 0L to 3L; v <- 0 to 1) {
      val i = img(scene, v)
      assert(java.util.Arrays.equals(
        Images.encodeImage(i, fmt), reference(i, fmt)),
        s"cached-writer bytes differ from ImageIO.write: fmt=$fmt scene=$scene v=$v")
    }
  }

  test("imageNearDedup: variants drop, bases and corrupt rows survive; seen-not-kept contract") {
    val imgs = Images.syntheticCorpus(
      spark.range(0, 120).toDF("doc_id"), "doc_id",
      variantsPerScene = 3, corruptEvery = 40)
    val kept = Images.imageNearDedup(imgs, "doc_id", col("content"), maxHamming = 8)
      .select("doc_id").as[Long].collect().toSet
    // scene bases (id % 3 == 0) survive unless they are the corrupt ids
    // (0, 40, 80 survive too — undecodable rows always pass through);
    // variants of scenes whose base was corrupted: scene 0 = ids 0,1,2
    // (0 corrupt -> 1 is lowest DECODED member, survives; 2 drops);
    // id 40 = scene 13 variant 1: corrupt -> survives; 41 = scene 13
    // variant 2 still drops via base 39; 80 = scene 26 variant 2 corrupt
    val expected = (0L until 120L).filter { id =>
      val corrupt = id % 40 == 0
      val base = (id / 3) * 3
      corrupt || id == base || (base % 40 == 0 && id == base + 1)
    }.toSet
    assert(kept == expected)
  }
}
