package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.text
import graft.operators.{Dedup, Split}

/** Property-based invariants (SURVEY §5 engine plan): normalization
  * idempotence, dedup ⊆ input, split partitions the input. Strings are
  * generated over the Unicode ranges the reference cares about
  * (macrons, saltillo variants, ejectives, Spanish punctuation);
  * generator seeds pinned so failures reproduce.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val corpusChar: Gen[Char] = Gen.frequency(
    8 -> Gen.alphaNumChar,
    2 -> Gen.oneOf("āēīōūĀĒĪŌŪ".toSeq),
    2 -> Gen.oneOf("'’`ʔʼ".toSeq),
    1 -> Gen.oneOf("¿¡ñáéíóú«»—…".toSeq),
    3 -> Gen.oneOf(" \t.,;:!?".toSeq))
  private val corpusString: Gen[String] =
    Gen.chooseNum(0, 60).flatMap(n => Gen.stringOfN(n, corpusChar))

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  test("property: normalize_text is idempotent for every language") {
    for (seed <- 1L to 5L) {
      val strs = sample(Gen.listOfN(40, corpusString), seed)
      val df = strs.toDF("s")
      for (lang <- Seq("nah", "myn", "es", "other")) {
        val bad = df.select(
          text.normalize_text(col("s"), lang).as("once"),
          text.normalize_text(text.normalize_text(col("s"), lang), lang).as("twice"))
          .filter(not(col("once") <=> col("twice")))
        val diff = bad.count()
        assert(diff === 0L,
          s"normalize_text($lang) not idempotent, e.g. ${bad.head(1).toSeq}")
      }
    }
  }

  test("property: dedup output ⊆ input and exactly one row per key") {
    for (seed <- 1L to 5L) {
      val rows = sample(Gen.listOfN(60, Gen.zip(corpusString, Gen.chooseNum(0L, 5L))), seed)
      val df = rows.toDF("s", "v")
      val out = Dedup.keepBest(df, text.norm_key(coalesce(col("s"), lit(""))), Seq(col("v")))
      assert(out.count() ===
        df.select(text.norm_key(coalesce(col("s"), lit(""))).as("k")).distinct().count())
      assert(out.exceptAll(df).count() === 0L, "dedup must not invent rows")
    }
  }

  test("property: split is a partition — disjoint, exhaustive, deterministic") {
    for (seed <- 1L to 5L) {
      val ids = sample(Gen.listOfN(80, Gen.chooseNum(Long.MinValue, Long.MaxValue)), seed).distinct
      val df = ids.toDF("id")
      val s = Split.split(df, Seq("id"))
      assert(s.count() === df.count(), "every row gets exactly one split")
      assert(s.filter(!col("split").isin("train", "validation", "test")).count() === 0L)
      val again = Split.split(df, Seq("id"))
      assert(s.exceptAll(again).count() === 0L, "assignment deterministic")
    }
  }

  test("property: CharNGrams matches the HOF ngrams formulation on random unicode text") {
    for (seed <- 1L to 5L; n <- Seq(2, 3, 8)) {
      val strs = sample(Gen.listOfN(40, corpusString), seed * 31 + n)
      val df = strs.toDF("s")
      val native = text.expr2col(
        graft.functions.CharNGrams(text.col2expr(col("s")), n))
      val bad = df.select(
          sort_array(native).as("a"),
          sort_array(Dedup.ngrams(col("s"), n)).as("b"))
        .filter(not(col("a") <=> col("b")))
      assert(bad.count() === 0L,
        s"native vs HOF n-grams diverge (n=$n), e.g. ${bad.head(1).toSeq}")
    }
  }

  test("property: WordNGrams matches the HOF split/slice/concat_ws formulation") {
    def hofGrams(c: org.apache.spark.sql.Column, n: Int) = {
      // filter the "" artifacts regex split emits around non-space
      // whitespace at string edges — words are non-empty by definition
      val words = filter(split(lower(trim(c)), "\\s+"), w => w =!= "")
      when(size(words) >= n,
        transform(sequence(lit(1), size(words) - lit(n - 1)),
          i => concat_ws(" ", slice(words, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    }
    for (seed <- 1L to 5L; n <- Seq(1, 2, 3)) {
      val strs = sample(Gen.listOfN(40, corpusString), seed * 17 + n) ++
        Seq("", " ", "one", "a  b\t c", " padded both ends ")
      val df = strs.toDF("s")
      val bad = df.select(Dedup.wordNGrams(col("s"), n).as("a"),
          hofGrams(col("s"), n).as("b"))
        .filter(not(col("a") <=> col("b")))
      assert(bad.count() === 0L,
        s"native vs HOF word n-grams diverge (n=$n), e.g. ${bad.head(1).toSeq}")
    }
  }

  test("property: SortedIntersectSize equals size(array_intersect) on random gram sets") {
    for (seed <- 1L to 5L) {
      val pairs = sample(Gen.listOfN(40, Gen.zip(corpusString, corpusString)), seed)
      val df = pairs.toDF("x", "y")
      val ga = sort_array(Dedup.ngrams(col("x"), 2))
      val gb = sort_array(Dedup.ngrams(col("y"), 2))
      val kernel = text.expr2col(graft.functions.SortedIntersectSize(
        text.col2expr(ga), text.col2expr(gb)))
      val bad = df.select(kernel.as("k"),
          size(array_intersect(ga, gb)).as("b"))
        .filter(col("k") =!= col("b"))
      assert(bad.count() === 0L, s"kernel diverges, e.g. ${bad.head(1).toSeq}")
    }
  }

  test("property: jaccardPairs equals brute force on random corpora (incl. sub-n docs)") {
    for (seed <- 10L to 12L; t <- Seq(0.4, 0.8)) {
      val strs = sample(Gen.listOfN(30, corpusString), seed)
      val df = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
      def pairSet(p: org.apache.spark.sql.DataFrame) =
        p.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val fast = pairSet(Dedup.jaccardPairs(df, "id", col("s"), t, n = 2))
      val banded = pairSet(Dedup.gramPairs(Dedup.gramSets(df, "id", col("s"), 2), None, t,
        Dedup.GramRoute.Banded))
      val g = df.select(col("id"), Dedup.ngrams(col("s"), 2).as("g"))
      val withSentinel = g.select(col("id"),
        when(size(col("g")) === 0, array(lit(""))).otherwise(col("g")).as("g"))
      val a = withSentinel.select(col("id").as("id_a"), col("g").as("ga"))
      val b = withSentinel.select(col("id").as("id_b"), col("g").as("gb"))
      val brute = pairSet(a.join(b, col("id_a") < col("id_b"))
        .withColumn("j", round(Dedup.jaccardOfSets(col("ga"), col("gb")), 6))
        .filter(col("j") >= t)
        .select("id_a", "id_b", "j"))
      assert(fast === brute, s"seed=$seed t=$t fast=${fast.size} brute=${brute.size}")
      assert(banded === brute, s"seed=$seed t=$t banded=${banded.size} brute=${brute.size}")
    }
  }


  // ---- the Hamming pair core: random 64-bit signatures with mates
  // planted at every distance 0..k+1 from a base, repeated values, null
  // signatures and a null shard, against brute force. The budgets
  // cross the exact/multi-probe layout boundary at 5 → 6.
  private def flipBits(rng: scala.util.Random, v: Long, d: Int): Long =
    rng.shuffle((0 until 64).toList).take(d).foldLeft(v)((x, b) => x ^ (1L << b))

  private val shardValues = Seq(Some("a"), Some("b"), None)

  private def hammingRows(seed: Long, k: Int): Seq[(Long, Option[Long], Option[String])] = {
    val rng = new scala.util.Random(seed)
    val sigs = (0 until 24).flatMap { _ =>
      val base = rng.nextLong()
      (0 to k + 1).map(d => flipBits(rng, base, d))
    }
    val repeated = Seq.fill(12)(sigs(rng.nextInt(sigs.size)))
    val all = (sigs ++ repeated).map(Option(_)) ++ Seq.fill(6)(None)
    rng.shuffle(all).zipWithIndex.map { case (sig, i) =>
      (i.toLong, sig, shardValues(rng.nextInt(shardValues.size)))
    }
  }

  test("property: the Hamming pair core equals brute force across the band layouts") {
    for (k <- Seq(0, 3, 5, 6, 8, 12)) {
      val rows = hammingRows(100L + k, k)
      val df = rows.toDF("id", "sig", "shard")
      def dist(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
      def idPairs(sharded: Boolean) = (for {
        (a, Some(sa), ha) <- rows; (b, Some(sb), hb) <- rows
        if a < b && dist(sa, sb) <= k && (!sharded || ha == hb)
      } yield (a, b, dist(sa, sb))).toSet
      for (sharded <- Seq(false, true)) {
        val got = Dedup.hammingNearDupPairs(df, "id", "sig", k,
            if (sharded) Seq("shard") else Nil)
          .as[(Long, Long, Int)].collect().toSet
        assert(got === idPairs(sharded), s"k=$k sharded=$sharded")
      }
      val (l, r) = (df.filter(col("id") % 2 === 0), df.filter(col("id") % 2 === 1))
      def values(side: org.apache.spark.sql.DataFrame) =
        side.select("sig").as[Option[Long]].collect().flatten.distinct
      for (strict <- Seq(false, true); (lf, rf) <- Seq((df, df), (l, r))) {
        val want = (for {
          sa <- values(lf); sb <- values(rf)
          if (if (strict) dist(sa, sb) < k else dist(sa, sb) <= k)
        } yield (sa, sb)).toSet
        val got = Dedup.hammingPairsValues(lf, col("sig"), rf, col("sig"), k, strict)
          .select("__ham_sa", "__ham_sb").as[(Long, Long)].collect().toSet
        assert(got === want, s"k=$k strict=$strict self=${lf eq rf}")
      }
    }
  }

  test("property: clipNearDupPairs equals a brute-force position-aligned count") {
    for (k <- Seq(0, 3, 6, 8)) {
      val rng = new scala.util.Random(200L + k)
      // 12 clips of 4 sampled frames, a mate per clip with each frame
      // flipped by 0..k+1 bits, two exact copies (in their source's
      // shard), some frames undecoded
      val clips = (0 until 12).flatMap { _ =>
        val base = Seq.fill(4)(rng.nextLong())
        Seq(base, base.map(s => flipBits(rng, s, rng.nextInt(k + 2))))
      }.map(frames => (frames, shardValues(rng.nextInt(shardValues.size))))
      val all = clips ++ Seq(clips(0), clips(5))
      val rows = all.zipWithIndex.flatMap { case ((frames, shard), id) =>
        frames.zipWithIndex.map { case (sig, pos) =>
          (id.toLong, pos, if (rng.nextInt(10) == 0) None else Some(sig), shard)
        }
      }
      val df = rows.toDF("doc_id", "frame_pos", "dhash", "src")
      for (sharded <- Seq(false, true)) {
        val want = (for {
          (a, pa, Some(sa), ha) <- rows; (b, pb, Some(sb), hb) <- rows
          if a < b && pa == pb && java.lang.Long.bitCount(sa ^ sb) <= k &&
            (!sharded || ha == hb)
        } yield (a, b, pa)).distinct.groupBy(p => (p._1, p._2))
          .collect { case ((a, b), ps) if ps.size >= 2 => (a, b, ps.size.toLong) }.toSet
        val got = graft.operators.Video.clipNearDupPairs(df, "doc_id", k, minFrames = 2,
            shardCols = if (sharded) Seq("src") else Nil)
          .as[(Long, Long, Long)].collect().toSet
        assert(got === want, s"k=$k sharded=$sharded")
        assert(want.nonEmpty, s"k=$k: fixture must plant clip pairs")
      }
    }
  }

  test("property: SigAgreeCount equals the zip_with/filter HOF formulation") {
    for (seed <- 1L to 5L) {
      val rows = sample(Gen.listOfN(50, Gen.zip(
        Gen.listOfN(16, Gen.chooseNum(0L, 3L)),
        Gen.listOfN(16, Gen.chooseNum(0L, 3L)))), seed)
      val df = rows.toDF("a", "b")
      val native = graft.functions.text.expr2col(graft.functions.SigAgreeCount(
        graft.functions.text.col2expr(col("a")), graft.functions.text.col2expr(col("b"))))
      val hof = size(filter(zip_with(col("a"), col("b"), _ === _), v => v))
      val bad = df.select(native.as("n"), hof.as("h")).filter(col("n") =!= col("h")).count()
      assert(bad === 0L)
    }
  }

  test("property: MinHash shingle, signing and band-key kernels equal the HOF formulations") {
    // the Column formulations the kernels replaced, kept as the reference
    def hofShingles(c: org.apache.spark.sql.Column, n: Int) = {
      val words = split(c, "\\s+")
      if (n <= 1) words
      else when(size(words) <= n, array(array_join(words, " ")))
        .otherwise(transform(sequence(lit(0), size(words) - n),
          i => array_join(slice(words, i + lit(1), lit(n)), " ")))
    }
    def hofBandKeys(sig: org.apache.spark.sql.Column, bands: Int, r: Int) =
      transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"), xxhash64(slice(sig, b * r + 1, lit(r))).as("bucket")))
    def bandKeys(sig: org.apache.spark.sql.Column, bands: Int, r: Int) =
      text.expr2col(graft.functions.MinHashBandKeys(text.col2expr(sig), bands, r))
    val edge = Seq("", " ", "\t", " \t\n ", "\tleading tab", "trailing tab\t",
      "one", "two words", "three small words", "four plain small words",
      "tlācatl ōmētl Ācatl", "tlaʼtolli tla'tolli tla’tolli tla`tolli tlaʔtolli",
      "k'iin ch'ich' ts'o'ok p'u'ul t'aan", "İstanbul STRAßE Straße", null)
    for (seed <- 1L to 5L) {
      val strs = sample(Gen.listOfN(40, corpusString), seed * 13) ++ edge
      val df = strs.toDF("s").withColumn("k", text.norm_key(col("s")))
      for (n <- Seq(1, 2, 3, 4)) {
        val bad = df.select(col("s"), Dedup.shingles(col("k"), n).as("a"),
            hofShingles(col("k"), n).as("b"))
          .filter(not(col("a") <=> col("b")))
        assert(bad.count() === 0L,
          s"native vs HOF shingles diverge (n=$n), e.g. ${bad.head(1).toSeq}")
      }
      val signed = df.select(col("s"),
        Dedup.minhashSigCol(col("s"), 128, 3).as("a"),
        Dedup.minhashSigForTest(hofShingles(col("k"), 3), 128).as("b"))
      val badSig = signed.filter(not(col("a") <=> col("b")))
      assert(badSig.count() === 0L,
        s"signing kernel vs MinHashSig(shingles) diverge, e.g. ${badSig.head(1).toSeq}")
      val badBands = signed.select(col("s"),
          bandKeys(col("a"), 32, 4).as("ka"), hofBandKeys(col("a"), 32, 4).as("kb"))
        .filter(not(col("ka") <=> col("kb")))
      assert(badBands.count() === 0L,
        s"band-key kernel vs xxhash64(slice) diverge, e.g. ${badBands.head(1).toSeq}")
    }
    // short, empty, null-slotted and null signatures: slices past the
    // end are partial or empty, null slots and a null array are skipped
    val sigs = sample(Gen.listOfN(40, Gen.chooseNum(0, 14).flatMap(len =>
      Gen.listOfN(len, Gen.option(Gen.chooseNum(Long.MinValue, Long.MaxValue))))), 7L)
    val sdf = (sigs.map(Option(_)) :+ None).toDF("sig")
    val badOdd = sdf.select(bandKeys(col("sig"), 3, 4).as("ka"),
        hofBandKeys(col("sig"), 3, 4).as("kb"))
      .filter(not(col("ka") <=> col("kb")))
    assert(badOdd.count() === 0L, s"e.g. ${badOdd.head(1).toSeq}")
  }

  test("property: native HyperplaneSig equals the Column-tree formulation") {
    for (seed <- 1L to 3L) {
      val vecs = sample(Gen.listOfN(30, Gen.listOfN(24,
        Gen.chooseNum(-1000, 1000).map(_ / 250.0))), seed)
      val df = vecs.toDF("v")
      val bad = df.select(
        graft.operators.Similarity.hyperplaneSignature(col("v"), bits = 10, seed = 7L).as("n"),
        graft.operators.Similarity.hyperplaneSignatureColumns(col("v"), dim = 24, bits = 10, seed = 7L).as("c"))
        .filter(col("n") =!= col("c")).count()
      assert(bad === 0L)
    }
  }

  test("property: dedup_key distinguishes null-position permutations") {
    for (seed <- 1L to 5L) {
      val vals = sample(Gen.listOfN(20, Gen.option(corpusString)), seed)
      val df = vals.map(v => (v.orNull, Option.empty[String].orNull)).toDF("a", "b")
      val bad = df.select(
        text.dedup_key(col("a"), col("b")).as("k1"),
        text.dedup_key(col("b"), col("a")).as("k2"),
        text.norm_key(coalesce(col("a"), lit(""))).as("na"),
        text.norm_key(coalesce(col("b"), lit(""))).as("nb"))
        .filter(col("na") =!= col("nb") && col("k1") === col("k2"))
        .count()
      assert(bad === 0L)
    }
  }

  test("property: ngram_jaccard_sim marker agrees with the composed-builtin formulation") {
    for (seed <- 1L to 5L; n <- Seq(2, 3, 8)) {
      val pairs = sample(Gen.listOfN(40, Gen.zip(corpusString, corpusString)), seed)
      val df = pairs.toDF("a", "b")
      val bad = df.select(
        Dedup.jaccardSim(col("a"), col("b"), n).as("marker"),
        Dedup.ngramJaccard(col("a"), col("b"), n).as("composed"))
        .filter(not(col("marker") <=> col("composed")))
      assert(bad.count() === 0L,
        s"marker != composed for n=$n, e.g. ${bad.head(1).toSeq}")
    }
  }

  test("property: CountInSortedLongs equals the array_intersect formulation on random digests") {
    for (seed <- 1L to 5L) {
      val refSet = sample(Gen.listOfN(30, Gen.chooseNum(-50L, 50L)), seed)
        .distinct.sorted.toArray
      val rows = sample(Gen.listOfN(40, Gen.listOfN(8, Gen.chooseNum(-50L, 50L))), seed + 100)
      val df = rows.map(Tuple1(_)).toDF("arr")
      val kernel = text.expr2col(graft.functions.CountInSortedLongs(
        text.col2expr(col("arr").cast("array<long>")), refSet))
      // reference formulation: per-element membership WITH multiplicity
      // (array_intersect dedups, so count via filter + array_contains)
      val oracle = size(filter(col("arr").cast("array<long>"),
        x => array_contains(lit(refSet), x)))
      val bad = df.select(kernel.as("k"), oracle.as("b")).filter(col("k") =!= col("b"))
      assert(bad.count() === 0L, s"membership kernel diverges, e.g. ${bad.head(1).toSeq}")
    }
  }

  test("property: semanticDedup is a subset and a fixed point under pinned cells") {
    import graft.operators.Dedup
    // random corpora with planted duplicate runs; nCells PINNED — the
    // auto-sizing would re-bucket the (smaller) output and can coarsen
    // buckets, which legally INCREASES recall; the fixed-point
    // contract holds per bucketing, which is what a pipeline re-run
    // with the same config sees.
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      val n = 20 + rnd.nextInt(40)
      val dim = 4
      val base = (0 until n).map { i =>
        (i.toLong, Seq.fill(dim)(rnd.nextGaussian()))
      }
      val dups = (0 until n / 4).map { j =>
        val (srcId, v) = base(rnd.nextInt(n))
        ((1000 + j).toLong, v.map(_ + rnd.nextGaussian() * 1e-4))
      }
      val df = (base ++ dups).toDF("vec_id", "embedding")
      val once = Dedup.semanticDedup(df, "vec_id", "embedding", eps = 0.01, nCells = 8)
      val onceIds = once.select("vec_id").collect().map(_.getLong(0)).toSet
      val allIds = (base ++ dups).map(_._1).toSet
      assert(onceIds.subsetOf(allIds), s"trial $trial: output must be a subset")
      val twiceIds = Dedup.semanticDedup(once, "vec_id", "embedding", eps = 0.01, nCells = 8)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(twiceIds === onceIds, s"trial $trial: pinned-cell dedup must be a fixed point")
    }
  }

  test("property: chunkConcat conserves every token exactly once on random costs") {
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 5) {
      val ctx = 16L + rnd.nextInt(100)
      val rows = (1 to 30 + rnd.nextInt(40)).map(i =>
        (i.toLong, rnd.nextInt(300).toLong - 20L)) // some non-positive
      val df = rows.toDF("id", "cost")
      val out = Split.chunkConcat(df, col("id"), col("cost"), ctx)
        .select("id", "chunk_id", "seg_begin", "seg_len", "chunk_offset")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      val valid = rows.filter(_._2 > 0).toMap
      // per-doc conservation + contiguity from token 0
      out.groupBy(_._1).foreach { case (id, segs) =>
        assert(valid.contains(id))
        val s = segs.sortBy(_._2)
        assert(s.map(_._4).sum === valid(id), s"trial $trial doc $id")
        assert(s.head._3 === 0L)
        s.sliding(2).foreach {
          case Array(a, b) => assert(b._3 === a._3 + a._4)
          case _ =>
        }
      }
      assert(out.groupBy(_._1).keySet === valid.keySet)
      // segment boundaries sit inside the example
      out.foreach { case (_, _, _, len, off) =>
        assert(len > 0 && off >= 0 && off + len <= ctx, s"trial $trial")
      }
      // every example except the highest is exactly full
      val perChunk = out.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
      if (perChunk.nonEmpty) {
        val last = perChunk.keys.max
        perChunk.foreach { case (c, tot) =>
          if (c != last) assert(tot === ctx, s"trial $trial chunk $c") }
      }
    }
  }

  test("property: capPerStratum equals the plain cap for random strata and caps") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 5) {
      val n = 50 + rnd.nextInt(100)
      val nStrata = 1 + rnd.nextInt(6)
      val cap = 1 + rnd.nextInt(12)
      val salts = 1 + rnd.nextInt(10)
      val df = (1 to n).map(i => (i.toLong, s"s${rnd.nextInt(nStrata)}"))
        .toDF("id", "src")
      def ids(s: Int) = Split.capPerStratum(df, col("src"), col("id"), cap,
          salts = s).select("id").as[Long].collect().toSet
      assert(ids(salts) === ids(1),
        s"trial $trial: salted two-stage (salts=$salts) must equal the plain cap")
      val kept = Split.capPerStratum(df, col("src"), col("id"), cap, salts = salts)
        .groupBy("src").count().as[(String, Long)].collect().toMap
      assert(kept.values.forall(_ <= cap), s"trial $trial: cap violated")
    }
  }

  test("property: weightedSample is monotone in k and never draws invalid weights") {
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 5) {
      val n = 60 + rnd.nextInt(100)
      val rows = (1 to n).map { i =>
        val w = rnd.nextInt(5) match {
          case 0 => 0.0
          case 1 => -rnd.nextDouble()
          case _ => rnd.nextDouble() * 100
        }
        (i.toLong, w)
      }
      val df = rows.toDF("id", "w")
      val validIds = rows.filter(_._2 > 0).map(_._1).toSet
      val k1 = 1 + rnd.nextInt(20)
      val k2 = k1 + 1 + rnd.nextInt(20)
      def draw(k: Int) = Split.weightedSample(df, col("id"), col("w"), k)
        .select("id").as[Long].collect().toSet
      val (d1, d2) = (draw(k1), draw(k2))
      assert(d1.subsetOf(d2), s"trial $trial: k=$k1 draw must nest in k=$k2")
      assert(d1.size === math.min(k1, validIds.size))
      assert(d2.subsetOf(validIds), s"trial $trial: invalid weights drawn")
    }
  }

  test("property: NB llr dictionary is antisymmetric under label flip") {
    import graft.operators.Classifier
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val rows = (1 to 40).map { i =>
        val words = Seq.fill(3 + rnd.nextInt(8))(s"w${rnd.nextInt(25)}")
        (i.toLong, words.mkString(" "), rnd.nextBoolean())
      }
      // force both classes
      val fixed = rows.take(38) :+ (39L, "pad a", true) :+ (40L, "pad b", false)
      val df = fixed.toDF("id", "text", "pos")
      def dict(lbl: org.apache.spark.sql.Column) =
        Classifier.nbTrain(df, col("text"), lbl)
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val d = dict(col("pos"))
      val flipped = dict(!col("pos"))
      assert(d.keySet === flipped.keySet)
      d.foreach { case (tok, w) =>
        assert(math.abs(w + flipped(tok)) < 1e-12,
          s"trial $trial: llr($tok) must negate under label flip")
      }
    }
  }

  test("property: map-side NB scoring equals the join-based path on random corpora") {
    import graft.operators.Classifier
    val rnd = new scala.util.Random(37)
    for (trial <- 1 to 3) {
      val rows = (1 to 50).map { i =>
        val words = Seq.fill(rnd.nextInt(10))(s"t${rnd.nextInt(30)}")
        (i.toLong, words.mkString(" "), i % 3 == 0)
      }
      val df = rows.toDF("id", "text", "pos")
      val joined = Classifier.nbQualityScore(df, "id", col("text"), col("pos"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).sortBy(_._1)
      val (keys, weights) = Classifier.collectDict(
        Classifier.nbTrain(df, col("text"), col("pos")))
      val prior = Classifier.collectPrior(df, col("pos"))
      val mapside = Classifier.nbScoreMapSide(df, "id", col("text"),
          keys, weights, prior)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).sortBy(_._1)
      assert(mapside.sameElements(joined), s"trial $trial: paths disagree")
    }
  }
}
