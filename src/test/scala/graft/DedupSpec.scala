package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // Mirror of the reference fixture (SparkDedupSpec.scala:44-49):
  // exact duplicate + macron variant.
  private def corpus = Seq(
    ("1", "Niltze", "Hola", "silver"),
    ("2", "Niltze", "Hola", "silver"),
    ("3", "Tlazohcamati", "Gracias", "silver"),
    ("4", "Tlazohcāmati", "Gracias", "diamond"),
    ("5", "Quen tinemi axcan kwali", "Cómo estás hoy bien", "silver")
  ).toDF("id", "nah", "es", "layer")

  test("keepBest: diamond layer wins (D2/D3 layer-priority semantics)") {
    val layerPrio = when(col("layer") === "diamond", 1).otherwise(0)
    val out = Dedup.keepBest(corpus, Dedup.compositeKey(Seq("es")),
      Seq(layerPrio, length(col("nah")), col("id")))
    val byEs = out.collect().map(r => r.getString(2) -> r.getString(0)).toMap
    assert(byEs("Gracias") === "4", "diamond record must win")
    assert(byEs("Hola") === "2", "tie broken by id")
    assert(out.count() === 3)
  }

  test("keepBestWindow equals keepBest on keep-first-by-id") {
    val a = Dedup.keepBestWindow(corpus, Dedup.compositeKey(Seq("es")), Seq(asc("id")))
      .select("id").collect().map(_.getString(0)).sorted
    assert(a.toSeq === Seq("1", "3", "5"))
  }

  test("dedup output is a subset of input (invariant)") {
    val inIds = corpus.select("id").collect().map(_.getString(0)).toSet
    val outIds = Dedup.keepBest(corpus, Dedup.compositeKey(Seq("es")), Seq(col("id")))
      .select("id").collect().map(_.getString(0)).toSet
    assert(outIds.subsetOf(inIds))
  }

  test("duplicateStats counts groups and rates") {
    val r = Dedup.duplicateStats(corpus, Seq("es")).head()
    assert(r.getAs[Long]("total_records") === 5L)
    assert(r.getAs[Long]("unique_records") === 3L)
    assert(r.getAs[Long]("duplicate_records") === 2L)
    assert(r.getAs[Long]("groups_with_duplicates") === 2L)
    assert(r.getAs[Long]("largest_group_size") === 2L)
  }

  test("fuzzyDedup removes exact and macron-variant near-duplicates (D5 @ reference threshold)") {
    // the macron pair shares 1 of 3 distinct tokens → Jaccard distance
    // 2/3; the reference's SparkDedupSpec drives at distance 0.9, we
    // use 0.7 with enough hash tables for near-certain candidate
    // generation ((2/3)^12 ≈ 0.8% miss, deterministic under the seed).
    val joined = corpus.withColumn("t", concat_ws(" ", col("nah"), col("es")))
    val out = Dedup.fuzzyDedup(joined, "id", col("t"), threshold = 0.7, numHashTables = 12)
    val ids = out.select("id").collect().map(_.getString(0)).toSet
    assert(!(ids.contains("1") && ids.contains("2")), "exact dup pair must collapse")
    assert(!(ids.contains("3") && ids.contains("4")), "macron variant must collapse")
    assert(ids.contains("5"), "distinct record must survive")
  }

  test("fuzzyDedup is deterministic across runs (pinned seed)") {
    val joined = corpus.withColumn("t", concat_ws(" ", col("nah"), col("es")))
    val a = Dedup.fuzzyDedup(joined, "id", col("t"), 0.5).select("id").collect().map(_.getString(0)).sorted.toSeq
    val b = Dedup.fuzzyDedup(joined, "id", col("t"), 0.5).select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(a === b)
  }

  test("simhash: identical token streams get identical signatures; disjoint differ") {
    val df = Seq("the quick brown fox", "the  quick   brown fox", "zqx wvu ponm").toDF("t")
    val sigs = df.select(Dedup.simhash(split(trim(col("t")), "\\s+")).as("s"))
      .collect().map(_.getLong(0))
    assert(sigs(0) === sigs(1))
    assert(sigs(0) !== sigs(2))
  }

  test("minhashDedup: banded LSH removes exact + near duplicates, keeps distinct (token-level)") {
    val joined = corpus.withColumn("t", concat_ws(" ", col("nah"), col("es")))
    // token shingles (size 1) so the macron variant shares 1/3 tokens;
    // low threshold + 2-row bands make the J=1/3 pair a near-certain candidate
    val out = Dedup.minhashDedup(joined, "id", col("t"),
      threshold = 0.3, numPerm = 128, bands = 64, shingleSize = 1)
    val ids = out.select("id").collect().map(_.getString(0)).toSet
    assert(!(ids.contains("1") && ids.contains("2")), "exact dup pair must collapse")
    assert(!(ids.contains("3") && ids.contains("4")), "macron variant must collapse")
    assert(ids.contains("5"), "distinct record survives")
  }

  test("minhashDedup is deterministic and output ⊆ input") {
    val joined = corpus.withColumn("t", concat_ws(" ", col("nah"), col("es")))
    val a = Dedup.minhashDedup(joined, "id", col("t"), 0.3, 128, 64, 1)
      .select("id").collect().map(_.getString(0)).sorted.toSeq
    val b = Dedup.minhashDedup(joined, "id", col("t"), 0.3, 128, 64, 1)
      .select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(a === b)
    assert(a.toSet.subsetOf(corpus.collect().map(_.getString(0)).toSet))
  }

  test("minhash signature estimates Jaccard within tolerance") {
    import graft.functions.{text => T}
    val df = Seq(
      ("a b c d e f g h", "a b c d e f g h"),     // J = 1
      ("a b c d e f g h", "a b c d x y z w"),     // J = 4/12 = 0.33
      ("a b c d e f g h", "p q r s t u v w")      // J = 0
    ).toDF("x", "y")
    val est = df.select((size(filter(zip_with(
        Dedup.minhashSigForTest(split(col("x"), " ")),
        Dedup.minhashSigForTest(split(col("y"), " ")), _ === _), v => v)).cast("double") / 256).as("j"))
      .collect().map(_.getDouble(0))
    assert(est(0) === 1.0)
    assert(math.abs(est(1) - 0.333) < 0.12, s"est=${est(1)}")
    assert(est(2) < 0.1)
  }

  test("two independent LSH implementations agree on the documents table") {
    // spark.ml MinHashLSH (q19 formulation) vs the banded native
    // implementation (q37) — different hash families, same survivors
    // on real data is strong mutual validation of both.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ml = Dedup.fuzzyDedup(docs, "doc_id", col("text"), threshold = 0.5, shingleSize = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val banded = Dedup.minhashDedup(docs, "doc_id", col("text"),
        threshold = 0.5, numPerm = 128, bands = 32, shingleSize = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val overlap = (ml & banded).size.toDouble / math.max(ml.size, banded.size)
    assert(overlap > 0.95, s"ml=${ml.size} banded=${banded.size} overlap=$overlap")
  }

  test("keepBest survives heavy key skew (map-side partial aggregation)") {
    import spark.implicits._
    // 200k rows, 95% share one key — the window-free agg path must
    // collapse the hot key map-side rather than shuffling 190k rows
    // to one reducer
    val skewed = spark.range(200000).select(
      when(col("id") % 20 === 0, col("id")).otherwise(lit(-1L)).as("k"),
      col("id").as("v"))
    val out = Dedup.keepBest(skewed.toDF(), col("k"), Seq(col("v")))
    assert(out.count() === 10001)
    assert(out.filter(col("k") === -1L).head().getAs[Long]("v") === 199999L,
      "hot key keeps its max")
  }

  test("minhashDedup bounds candidates on a pathological near-identical corpus (skew cap)") {
    import spark.implicits._
    // two 150-doc cliques of IDENTICAL text: every band has two
    // all-members buckets, the all-pairs join would be B² per band
    val even = "in tlahtolli mochipa cualli tonalli niltze tlazohcamati nican"
    val odd = "ba'ax ka wa'alik bix a beel ma'alob kin bin xook tulakal"
    val docs = (0L until 300L).map(i => (i, if (i % 2 == 0) even else odd)).toDF("id", "t")
    val nCand = Dedup.minhashCandidates(docs, "id", col("t"), threshold = 0.5,
        numPerm = 64, bands = 16, shingleSize = 3, maxBucketSize = 16).count()
    assert(nCand <= 16L * 300 * 2,
      s"capped candidate enumeration must stay ~linear per band, got $nCand")
    // un-capped would be ~16 bands × 2 × C(150,2) ≈ 357k
    assert(nCand < 20000, s"got $nCand")

    val capped = Dedup.minhashDedup(docs, "id", col("t"), threshold = 0.5,
        numPerm = 64, bands = 16, shingleSize = 3, maxBucketSize = 16)
      .select("id").collect().map(_.getLong(0)).toSet
    val uncapped = Dedup.minhashDedup(docs, "id", col("t"), threshold = 0.5,
        numPerm = 64, bands = 16, shingleSize = 3, maxBucketSize = 1 << 20)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(capped === uncapped, "star verification reaches the same removable set")
    assert(capped === Set(0L, 1L), "each clique collapses to its min id")
  }

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** The specs' brute-force reference for the n-gram Jaccard core: the
    * full cross join (self: `id_a < id_b`) over the HOF gram sets,
    * exact rounded J ≥ t. */
  private def bruteJaccard(left: DataFrame, right: Option[DataFrame], idCol: String,
      textCol: String, t: Double, n: Int): Set[(Long, Long, Double)] = {
    val a = left.select(col(idCol).as("id_a"), Dedup.ngrams(col(textCol), n).as("ga"))
    val b = right.getOrElse(left)
      .select(col(idCol).as("id_b"), Dedup.ngrams(col(textCol), n).as("gb"))
    pairSet(a.join(b, if (right.isEmpty) col("id_a") < col("id_b") else lit(true))
      .withColumn("jaccard", round(Dedup.jaccardOfSets(col("ga"), col("gb")), 6))
      .filter(col("jaccard") >= t)
      .select("id_a", "id_b", "jaccard"))
  }

  /** Each forced route of the core, as `route -> pairs`. */
  private def forcedRoutes(left: DataFrame, right: Option[DataFrame], idCol: String,
      textCol: String, t: Double, n: Int): Map[Dedup.GramRoute, Set[(Long, Long, Double)]] = {
    val setsL = Dedup.gramSets(left, idCol, col(textCol), n)
    val setsR = right.map(Dedup.gramSets(_, idCol, col(textCol), n))
    Seq(Dedup.GramRoute.Exact, Dedup.GramRoute.Banded)
      .map(r => r -> pairSet(Dedup.gramPairs(setsL, setsR, t, r))).toMap
  }

  /** The core's probe decision for `left` (and `right`). */
  private def probed(left: DataFrame, right: Option[DataFrame], idCol: String,
      textCol: String, t: Double, n: Int): Dedup.GramRoute = {
    val nDocs = left.count() + right.map(_.count()).getOrElse(0L)
    Dedup.probeRoute(Dedup.gramSets(left, idCol, col(textCol), n),
      right.map(Dedup.gramSets(_, idCol, col(textCol), n)), t, nDocs)
  }

  test("jaccardPairs routes equal the brute-force cross join on real documents") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val brute = bruteJaccard(docs, None, "doc_id", "text", 0.3, 3)
    assert(brute.nonEmpty, "fixture must actually contain qualifying pairs")
    val guarded = pairSet(Dedup.jaccardPairs(docs, "doc_id", col("text"), t = 0.3))
    assert(guarded === brute, s"jaccardPairs=${guarded.size} brute=${brute.size}")
    for ((route, pairs) <- forcedRoutes(docs, None, "doc_id", "text", 0.3, 3))
      assert(pairs === brute, s"$route=${pairs.size} brute=${brute.size}")
  }

  test("jaccardJoin (bipartite) equals brute force across two corpora; decontaminate scrubs leaks") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val eval = docs.filter(col("doc_id") % 5 === 0)
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val brute = bruteJaccard(eval, Some(train), "doc_id", "text", 0.3, 3)
    assert(brute.nonEmpty, "fixture must actually contain cross-corpus leaks")
    val fast = pairSet(Dedup.jaccardJoin(eval, "doc_id", col("text"),
        train, "doc_id", col("text"), t = 0.3, n = 3))
    assert(fast === brute, s"fast=${fast.size} brute=${brute.size}")
    for ((route, pairs) <- forcedRoutes(eval, Some(train), "doc_id", "text", 0.3, 3))
      assert(pairs === brute, s"$route=${pairs.size} brute=${brute.size}")

    val clean = Dedup.decontaminate(eval, "doc_id", col("text"),
        train, "doc_id", col("text"), t = 0.3, n = 3)
      .select("doc_id").as[Long].collect().toSet
    val leakedIds = brute.map(_._1)
    val evalIds = eval.select("doc_id").as[Long].collect().toSet
    assert(clean === evalIds -- leakedIds)
  }

  test("jaccardPairs: sub-n-length docs follow J(∅,∅)=1 / J(∅,S)=0 semantics") {
    val docs = Seq((1L, "ab"), (2L, "yz"), (3L, "tlazohcamati"), (4L, "tlazohcamati"))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", col("text"), t = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.keySet === Set((1L, 2L), (3L, 4L)),
      "both empty-gram docs pair at J=1; empty-vs-nonempty must not pair")
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs((3L, 4L)) === 1.0)
  }

  test("Σdf² guardrail: saturated-vocabulary corpus routes to banded candidates, output identical") {
    // pathological fixture: every gram drawn from a 12-word vocabulary,
    // so each gram's document frequency is ~corpus-sized and the exact
    // count join's Σdf² goes quadratic — while almost no PAIR passes
    // the threshold (docs are random word soup) except the 20 planted
    // exact duplicates.
    val rnd = new scala.util.Random(7)
    val vocab = Vector("tla", "toc", "cal", "mex", "nah", "pil",
      "xoc", "atl", "tep", "mic", "zta", "hui")
    val base = (0 until 400).map { i =>
      (i.toLong, (0 until 30).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val dups = (0 until 20).map { i => (1000L + i, base(i)._2) }
    val docs = (base ++ dups).toDF("id", "t")

    // the probe's budget is 8192 joined rows per doc: this corpus is
    // past it, a 20-doc slice of it is well inside
    assert(probed(docs, None, "id", "t", 0.8, 3) === Dedup.GramRoute.Banded,
      "probe must route the saturated corpus away from the count join")
    val tiny = base.take(20).toDF("id", "t")
    assert(probed(tiny, None, "id", "t", 0.8, 3) === Dedup.GramRoute.Exact)

    val brute = bruteJaccard(docs, None, "id", "t", 0.8, 3)
    assert(brute.size >= 20, "planted duplicates must appear as pairs")
    for ((route, pairs) <- forcedRoutes(docs, None, "id", "t", 0.8, 3))
      assert(pairs === brute, s"$route=${pairs.size} brute=${brute.size}")
    val guarded = pairSet(Dedup.jaccardPairs(docs, "id", col("t"), t = 0.8, n = 3))
    assert(guarded === brute)
    // low thresholds have no AND-amplification (r < 2): the probe must
    // keep the exact join even on the saturated corpus rather than
    // degrade to r=1 banding
    assert(Dedup.recallBandRows(0.3, 128) === 1)
    assert(probed(docs, None, "id", "t", 0.3, 3) === Dedup.GramRoute.Exact)
    val low = pairSet(Dedup.jaccardPairs(tiny, "id", col("t"), t = 0.3, n = 3))
    assert(low === bruteJaccard(tiny, None, "id", "t", 0.3, 3))
    // end-to-end: guarded ngramDedup drops exactly the planted dups
    val kept = Dedup.ngramDedup(docs, "id", col("t"), t = 0.8, n = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === (base ++ dups).map(_._1).toSet -- brute.map(_._2))
  }

  test("jaccardJoin guards the oversized-reference decontamination shape") {
    // eval is as large as the training side — the two-sided shape
    // whose Σ dfL·dfR goes quadratic (ADR-003's lesson). Word-soup
    // docs over a tiny vocabulary put the fixture in that regime;
    // planted verbatim leaks are the pairs that must survive routing.
    val rnd = new scala.util.Random(11)
    val vocab = Vector("tla", "toc", "cal", "mex", "nah", "pil",
      "xoc", "atl", "tep", "mic", "zta", "hui")
    val train = (0 until 600).map { i =>
      (i.toLong, (0 until 30).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val eval = (0 until 900).map { i =>
      // first 15 eval docs are verbatim copies of training docs (leaks)
      if (i < 15) (5000L + i, train(i * 3)._2)
      else (5000L + i, (0 until 30).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val trainDf = train.toDF("id", "t")
    val evalDf = eval.toDF("id", "t")

    // past the 8192 rows/doc budget, so the banded route fires; a
    // benchmark-sized reference side routes exact
    assert(probed(evalDf, Some(trainDf), "id", "t", 0.8, 3) === Dedup.GramRoute.Banded,
      "probe must route the oversized two-sided shape away from the count join")
    assert(probed(evalDf.limit(5), Some(trainDf.limit(20)), "id", "t", 0.8, 3) ===
      Dedup.GramRoute.Exact)

    val brute = bruteJaccard(evalDf, Some(trainDf), "id", "t", 0.8, 3)
    assert(brute.map(_._1).size >= 15, "planted leaks must all be found")
    for ((route, pairs) <- forcedRoutes(evalDf, Some(trainDf), "id", "t", 0.8, 3))
      assert(pairs === brute, s"$route=${pairs.size} brute=${brute.size}")
    val guarded = pairSet(Dedup.jaccardJoin(evalDf, "id", col("t"),
      trainDf, "id", col("t"), t = 0.8, n = 3))
    assert(guarded === brute, s"banded route must not change the leak set " +
      s"(guarded=${guarded.size} brute=${brute.size})")

    // decontaminate through the guard drops exactly the leaking ids
    val kept = Dedup.decontaminate(evalDf, "id", col("t"),
        trainDf, "id", col("t"), t = 0.8, n = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === eval.map(_._1).toSet -- brute.map(_._1))
  }

  test("ngramDedup keeps the lowest id of each near-dup clique") {
    import spark.implicits._
    val docs = Seq(
      (10L, "in tlahtolli mochipa cualli tonalli"),
      (11L, "in tlahtolli mochipa cualli tonalli"),
      (12L, "in tlahtolli mochipa cualli tonalli!"),
      (20L, "ba'ax ka wa'alik bix a beel ma'alob")).toDF("doc_id", "text")
    val kept = Dedup.ngramDedup(docs, "doc_id", col("text"), t = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(10L, 20L))
  }

  test("SortedIntersectSize agrees with array_intersect on real gram sets") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    val g = docs.select(col("doc_id"), sort_array(Dedup.ngrams(col("text"), 3)).as("g"))
    val a = g.select(col("doc_id").as("ia"), col("g").as("ga"))
    val b = g.select(col("doc_id").as("ib"), col("g").as("gb"))
    val joined = a.join(b, col("ia") < col("ib") && col("ib") <= col("ia") + 5)
    val mismatches = joined.withColumn("kernel",
        graft.functions.text.expr2col(graft.functions.SortedIntersectSize(
          graft.functions.text.col2expr(col("ga")), graft.functions.text.col2expr(col("gb")))))
      .withColumn("builtin", size(array_intersect(col("ga"), col("gb"))))
      .filter(col("kernel") =!= col("builtin"))
      .count()
    assert(mismatches === 0)
  }

  test("ngramJaccard: identity 1, disjoint 0, near-dup high") {
    val df = Seq(
      ("abcdefgh", "abcdefgh"),
      ("abcdefgh", "zyxwvuts"),
      ("tlazohcamati", "tlazohcāmati")).toDF("a", "b")
    val sims = df.select(Dedup.ngramJaccard(col("a"), col("b")).as("j"))
      .collect().map(_.getDouble(0))
    assert(sims(0) === 1.0)
    assert(sims(1) === 0.0)
    assert(sims(2) > 0.5 && sims(2) < 1.0)
  }

  test("minhashDedupAgainst drops incoming near-dups of the corpus, keeps fresh rows") {
    val corpusDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a totally different document about spark shuffle exchanges")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
      (11L, "the quick brown fox jumps over the lazy dog again and AGAIN"), // near dup of 1
      (12L, "completely fresh content that matches nothing in the corpus at all")
    ).toDF("doc_id", "text")
    // corpus signatures computed once, as a pipeline would persist them
    val sigs = Dedup.minhashSignatures(corpusDocs, "doc_id", col("text"))
    val kept = Dedup.minhashDedupAgainst(incoming, "doc_id", col("text"), sigs,
        threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(12L), s"kept $kept")
    // determinism + signature-table round-trip through parquet
    val dir = java.nio.file.Files.createTempDirectory("graft-sigs").toString + "/sigs"
    sigs.write.parquet(dir)
    val kept2 = Dedup.minhashDedupAgainst(incoming, "doc_id", col("text"),
        spark.read.parquet(dir), threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 === kept)
  }

  // ---- simhashPairs: pigeonhole banding is a GUARANTEE, so the pair
  // set must EQUAL the brute-force all-pairs Hamming join, not just
  // approximate it.
  private def hammingCorpus = {
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    Seq(
      (1L, base),                                          // anchor
      (2L, base),                                          // identical → distance 0
      (3L, base.replace("word7", "changed")),              // near variant
      (4L, base.replace("word7", "changed")
        .replace("word21", "also")),                       // near variant
      (5L, (100 to 140).map(i => s"other$i").mkString(" ")) // unrelated
    ).toDF("doc_id", "text")
  }

  test("simhashPairs equals the brute-force Hamming join (pigeonhole exactness)") {
    val docs = hammingCorpus
    val banded = Dedup.simhashPairs(docs, "doc_id", col("text"), maxHamming = 3)
      .as[(Long, Long)].collect().toSet
    val sigs = docs.select(col("doc_id"),
      Dedup.simhash(split(graft.functions.text.norm_key(col("text")), "\\s+")).as("sig"))
    val brute = sigs.as("a").join(sigs.as("b"),
        col("a.doc_id") < col("b.doc_id") &&
          bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= 3)
      .select(col("a.doc_id"), col("b.doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(banded === brute, s"banded=$banded brute=$brute")
    assert(brute.contains((1L, 2L)), "identical docs must pair at distance 0")
    assert(brute.exists { case (a, b) => a != 1L || b != 2L },
      "fixture should produce at least one non-trivial near-dup pair")
  }

  test("simhashNearDedup drops pair-dup higher ids; an identical clique keeps its min id") {
    val docs = hammingCorpus
    val kept = Dedup.simhashNearDedup(docs, "doc_id", col("text"), maxHamming = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && kept.contains(5L))
    assert(!kept.contains(2L), "exact dup of 1 must drop")
    // eight rows, one signature value: one bucket row, and the drop
    // set is every id above the group's min, with no pair listed
    val clique = Seq.tabulate(8)(i => (i.toLong, "same text for every row here")).toDF("doc_id", "text")
    val keptClique = Dedup.simhashNearDedup(clique, "doc_id", col("text"), maxHamming = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(keptClique === Set(0L), s"the clique must collapse to its min id: $keptClique")
  }

  test("hammingDupIds stays linear on a group sharing one signature; the pair list does not") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    // n rows on one value, a mate 1 bit away and an unrelated row
    val n = 2000L
    val sigs = spark.range(n).select(col("id"), lit(0x5555L).as("sig"))
      .union(Seq((n, 0x5557L), (n + 1, -1L)).toDF("id", "sig"))
    val helper = new AdaptiveSparkPlanHelper {}
    // runs the frame's own plan, then reads its largest operator output
    def run(df: DataFrame): (Long, Long) = {
      val rows = df.queryExecution.toRdd.count()
      (rows, helper.collect(df.queryExecution.executedPlan) {
        case p => p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.max)
    }
    val drops = Dedup.hammingDupIds(sigs, "id", "sig", 3)
    assert(drops.as[Long].collect().toSet === (1L to n).toSet)
    val (nDrops, dropsMax) = run(drops)
    assert(nDrops === n && dropsMax <= 2 * n, s"drop plan peaked at $dropsMax rows")
    // the pair API lists the clique, and the same probe sees it
    val (nPairs, pairsMax) = run(Dedup.hammingNearDupPairs(sigs, "id", "sig", 3))
    assert(nPairs === n * (n - 1) / 2 + n && pairsMax >= n * (n - 1) / 2)
  }

  test("collapseRepeatedLines: only ADJACENT repeats collapse; reappearances stay") {
    val docs = Seq(
      (1L, "a\na\nb\na", "x"),
      (2L, "solo", "y"),
      (3L, "dup\ndup\ndup\ndup", "z")
    ).toDF("doc_id", "text", "meta")
    val out = Dedup.collapseRepeatedLines(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "a\nb\na", "non-adjacent reappearance must survive")
    assert(out(2L) === "solo")
    assert(out(3L) === "dup")
    val full = Dedup.collapseRepeatedLines(docs, "doc_id", "text")
    assert(full.columns.toSeq === Seq("doc_id", "text", "meta"))
  }

  test("duplicateSpans flags verbatim cross-doc overlap at ANY offset; in-doc repeats don't") {
    // the shared run sits at different word offsets in docs 1 and 2 —
    // word-boundary anchoring must still match it (fixed-stride char
    // windows would not)
    val sharedRun = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, "unique lead-in words then " + sharedRun),
      (2L, sharedRun + " with a unique trailer afterwards"),
      (3L, "totally unrelated content that is long enough to produce several spans of text here"),
      (4L, Seq.fill(4)("echo delta").mkString(" ") + " " +
        Seq.fill(4)("echo delta").mkString(" ")), // repeats only within ITSELF
      (5L, "too few words here") // < spanWords → no row
    ).toDF("doc_id", "text")
    val prof = Dedup.duplicateSpans(docs, "doc_id", col("text"), spanWords = 8)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!prof.contains(5L))
    assert(prof(1L).getAs[Long]("dup_spans") >= 3,
      "doc 1 shares a 10-word verbatim run with doc 2 at a shifted offset")
    assert(prof(2L).getAs[Long]("dup_spans") >= 3)
    assert(prof(3L).getAs[Long]("dup_spans") === 0L)
    assert(prof(4L).getAs[Long]("dup_spans") === 0L,
      "repetition within one doc is not cross-doc duplication")
    assert(prof(1L).getAs[Double]("dup_span_frac") < 1.0, "doc 1 has unique spans too")
    // the digest-keyed scale path reports identically
    val byDigest = Dedup.duplicateSpans(docs, "doc_id", col("text"),
        spanWords = 8, keyByDigest = true)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("dup_spans")).toMap
    assert(byDigest === prof.view.mapValues(_.getAs[Long]("dup_spans")).toMap)
  }

  test("removeDuplicateSpans cuts the shared run at any offset, keeps unique remainders in order") {
    val sharedRun = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, "Unique lead-in words then " + sharedRun),
      (2L, sharedRun + " with a unique trailer afterwards"),
      (3L, "totally unrelated content that is long enough to produce several spans of text here"),
      (4L, Seq.fill(4)("echo delta").mkString(" ") + " " +
        Seq.fill(4)("echo delta").mkString(" ")), // repeats only within ITSELF
      (5L, "too few words here")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs, "doc_id", "text", spanWords = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "unique lead-in words then", "run cut, normalized lead-in kept in order")
    assert(out(2L) === "with a unique trailer afterwards", "shifted-offset copy cut too")
    assert(out(3L) === "totally unrelated content that is long enough to produce several spans of text here")
    assert(out(4L).split(" ").length === 16, "in-doc repetition is not cross-doc duplication")
    assert(out(5L) === "too few words here", "sub-span docs survive as normalized selves")
    assert(out.size === 5, "every row survives")
    // a fully-duplicated pair is cut to empty strings, rows survive
    val twins = Seq((1L, sharedRun), (2L, sharedRun)).toDF("doc_id", "text")
    val cut = Dedup.removeDuplicateSpans(twins, "doc_id", "text", spanWords = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cut === Map(1L -> "", 2L -> ""))
  }

  test("removeDuplicateSpansRaw cuts original char ranges, preserves casing/spacing outside cuts") {
    // the 8-word run is shared between d1 (mixed case, tab + double-
    // space separators) and d2 (lowercase, single spaces): matching is
    // on the NORMALIZED stream, the cut on the ORIGINAL characters
    val docs = Seq(
      (1L, "KEEP Me  One Two\tThree Four Five Six Seven Eight tail one"),
      (2L, "prefix one two three four five six seven eight suffix"),
      (3L, "unrelated short text"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpansRaw(docs, "doc_id", "text", spanWords = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // d1: cut [start("One"), end("Eight")) — the tab interior to the
    // run goes with it; the double space BEFORE and the space AFTER
    // the run both survive (bytes outside the span are untouched)
    assert(out(1L) === "KEEP Me   tail one", s"got '${out(1L)}'")
    assert(out(2L) === "prefix  suffix", s"got '${out(2L)}'")
    assert(out(3L) === "unrelated short text", "no-span doc passes through bit-identical")
    assert(out(4L) === null, "null text stays null")
    assert(out.size === 4, "every row survives")
    // edge cuts: a run at position 0 keeps the separator after it; a
    // fully-covered doc keeps only its edge whitespace
    val twins = Seq((1L, " one two three four five six seven eight "),
      (2L, "ONE TWO three four five six seven eight")).toDF("doc_id", "text")
    val cut = Dedup.removeDuplicateSpansRaw(twins, "doc_id", "text", spanWords = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cut === Map(1L -> "  ", 2L -> ""), s"got $cut")
    // non-ASCII multi-byte chars before the cut: offsets are code-point
    // based, so the cut still lands exactly on the run
    val uni = Seq((1L, "ñandú tlāhtōlli one two three four five six seven eight"),
      (2L, "zz one two three four five six seven eight")).toDF("doc_id", "text")
    val cutU = Dedup.removeDuplicateSpansRaw(uni, "doc_id", "text", spanWords = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cutU(1L) === "ñandú tlāhtōlli ", s"got '${cutU(1L)}'")
    assert(cutU(2L) === "zz ", s"got '${cutU(2L)}'")
  }

  test("contaminationProfile flags verbatim eval-gram leaks at any offset; clean/short docs pass") {
    val evalQ = "what is the airspeed velocity of an unladen swallow"
    val evalSet = Seq(
      (100L, evalQ),
      (101L, "name the capital city of the ancient aztec empire")
    ).toDF("eid", "etext")
    val corpus = Seq(
      (1L, "some page padding then " + evalQ + " pasted verbatim in the middle"),
      (2L, "a perfectly clean training document with plenty of ordinary words inside it"),
      (3L, "short doc"), // < nWords words → zero grams, clean by definition
      (4L, evalQ) // the eval item itself
    ).toDF("doc_id", "text")
    val prof = Dedup.contaminationProfile(corpus, "doc_id", col("text"),
        evalSet, col("etext"), nWords = 5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(prof(1L).getAs[Boolean]("contaminated"), "mid-page verbatim paste must flag")
    assert(prof(1L).getAs[Long]("hit_grams") === 5L,
      "the 9-word quote contributes exactly 5 overlapping 5-grams")
    assert(!prof(2L).getAs[Boolean]("contaminated"))
    assert(prof(3L).getAs[Long]("n_grams") === 0L && !prof(3L).getAs[Boolean]("contaminated"))
    assert(prof(4L).getAs[Boolean]("contaminated"))
    assert(prof.size === 4, "every corpus row survives with a flag")
    // hash-join fallback and digest keying report identically
    for ((bc, dig) <- Seq((false, false), (true, true), (false, true))) {
      val alt = Dedup.contaminationProfile(corpus, "doc_id", col("text"),
          evalSet, col("etext"), nWords = 5, broadcastEval = bc, keyByDigest = dig)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("hit_grams")).toMap
      assert(alt === prof.view.mapValues(_.getAs[Long]("hit_grams")).toMap)
    }
    // Bloom variant: one-sided — it may OVER-count (tiny filters'
    // double-hash scheme FPs above the nominal fpp; observed on this
    // very fixture) but NEVER under-counts, so every true leak flags;
    // and it is structurally join-free — the whole profile is one map
    val bloomed = Dedup.contaminationProfileBloom(corpus, "doc_id", col("text"),
      evalSet, col("etext"), nWords = 5)
    val bv = bloomed.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_grams"), r.getAs[Long]("hit_grams"))).toMap
    prof.foreach { case (id, r) =>
      assert(bv(id)._1 === r.getAs[Long]("n_grams"),
        s"n_grams is exact, bloom plays no part (doc $id)")
      assert(bv(id)._2 >= r.getAs[Long]("hit_grams"),
        s"bloom hit_grams must never under-count (doc $id)")
    }
    assert(bv(1L)._2 >= 5L && bv(4L)._2 > 0L,
      "every truly contaminated doc must flag through the bloom gate")
  }

  test("contaminationProfileBloom over-counts only: hit_grams >= exact on the sf corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val evalSet = docs.filter(col("doc_id") % 7 === 0)
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val exact = Dedup.contaminationProfile(corpus, "doc_id", col("text"),
        evalSet, col("text"), nWords = 5)
      .select("doc_id", "hit_grams").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a coarse fpp (1e-2) still must never UNDER-count a single gram
    val bloomed = Dedup.contaminationProfileBloom(corpus, "doc_id", col("text"),
      evalSet, col("text"), nWords = 5, fpp = 1e-2)
    // corpus side is parquet-backed here, so the plan is real (the
    // tiny-fixture test above collapses to a LocalTableScan): the
    // whole profile must be ONE map over the scan — no shuffle, no
    // join, membership through the native kernel
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"bloom profile must be a pure map — no shuffle, no join:\n$plan")
    assert(plan.contains("count_in_bloom"),
      s"bloom profile must use the native membership kernel:\n$plan")
    val bloom = bloomed
      .select("doc_id", "hit_grams").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bloom.keySet === exact.keySet)
    exact.foreach { case (id, h) =>
      assert(bloom(id) >= h, s"doc $id: bloom ${bloom(id)} < exact $h — impossible")
    }
    assert(exact.values.sum > 0, "fixture must contain true contamination signal")
  }

  test("dedupLines removes cross-document boilerplate, keeps in-doc repeats and order") {
    val docs = Seq(
      (1L, "keep one\nCOOKIE BANNER\ntail one", "a"),
      (2L, "keep two\nCOOKIE BANNER", "b"),
      (3L, "COOKIE BANNER", "c"),
      (4L, "echo\necho\nunique tail", "d") // in-doc repetition only → kept
    ).toDF("doc_id", "text", "meta")
    val out = Dedup.dedupLines(docs, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "keep one\ntail one", "order preserved around the removed line")
    assert(out(2L) === "keep two")
    assert(out(3L) === "", "fully-boilerplate doc becomes empty, row survives")
    assert(out(4L) === "echo\necho\nunique tail",
      "repetition within a single doc is not boilerplate")
    // non-text columns and schema order pass through
    val full = Dedup.dedupLines(docs, "doc_id", "text")
    assert(full.columns.toSeq === Seq("doc_id", "text", "meta"))
    assert(full.filter(col("doc_id") === 1L).select("meta").as[String].head() === "a")
    // minDocs above the line's doc count: no longer boilerplate
    val relaxed = Dedup.dedupLines(docs, "doc_id", "text", minDocs = 4)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(relaxed(1L) === "keep one\nCOOKIE BANNER\ntail one")
    // the digest-keyed scale path returns the identical corpus
    val byDigest = Dedup.dedupLines(docs, "doc_id", "text", keyByDigest = true)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byDigest === out)
  }

  test("dedupLinesWithinDoc keeps first occurrences in order, per doc only") {
    val docs = Seq(
      (1L, "a\nb\na\nc\nb", "x"),
      (2L, "a\na\na", "y"),      // same line as doc 1 — no cross-doc effect
      (3L, "solo", "z"),
      (4L, "", "w")
    ).toDF("doc_id", "text", "meta")
    val out = Dedup.dedupLinesWithinDoc(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "a\nb\nc", "first occurrences survive in original order")
    assert(out(2L) === "a", "within-doc collapse is independent of doc 1")
    assert(out(3L) === "solo")
    assert(out(4L) === "", "empty doc survives as empty")
    // schema and non-text columns pass through
    val full = Dedup.dedupLinesWithinDoc(docs, "doc_id", "text")
    assert(full.columns.toSeq === Seq("doc_id", "text", "meta"))
  }

  test("HashingTfIndices kernel replays ml HashingTF.indexOf exactly") {
    // the q19 export computes feature-index sets with this kernel
    // (hashUnsafeBytes2, seed 42, nonNegativeMod) instead of a 16k-wide
    // dense-vector explode; pin it per-term against ml's own indexOf
    val n = 1 << 14
    val tfIndexer = new org.apache.spark.ml.feature.HashingTF().setNumFeatures(n)
    val terms = Tables.documents(spark, "/root/testdata/sf0.001").limit(50)
      .select(explode(Dedup.shingles(col("text"), 3)).as("term"))
      .distinct()
    val viaKernel = terms
      .select(col("term"),
        explode(graft.functions.text.expr2col(graft.functions.HashingTfIndices(
          graft.functions.text.col2expr(array(col("term"))), n))).as("idx"))
      .as[(String, Int)].collect()
    assert(viaKernel.length > 100, "fixture produced a real term set")
    viaKernel.foreach { case (term, idx) =>
      assert(idx === tfIndexer.indexOf(term), s"index mismatch for '$term'")
    }
    // multi-token arrays dedup + sort
    val multi = Seq(Seq("a", "b", "a", "b", "c")).toDF("ts")
      .select(graft.functions.text.expr2col(graft.functions.HashingTfIndices(
        graft.functions.text.col2expr(col("ts")), n)).as("idx"))
      .head().getSeq[Int](0)
    assert(multi === multi.distinct.sorted)
    assert(multi.toSet === Set("a", "b", "c").map(tfIndexer.indexOf))
  }

  test("q19's exported index-set Jaccard replays MinHashLSH keyDistance") {
    // The q19 oracle verifies candidates with
    // 1 - |A∩B| / |A∪B| over the exported nonzero feature indices;
    // spark.ml's MinHashLSHModel.keyDistance is defined the same way
    // over the sparse vectors' index sets. Pin the equivalence on real
    // corpus shingle vectors so an ml-side definition change can never
    // silently skew the q19 oracle.
    val n = 1 << 14
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(120)
    val tokens = docs
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("__tokens"))
      .filter(size(col("__tokens")) > 0)
    val tf = new org.apache.spark.ml.feature.HashingTF()
      .setInputCol("__tokens").setOutputCol("__f").setNumFeatures(n)
    val featured = tf.transform(tokens)
    val model = new org.apache.spark.ml.feature.MinHashLSH()
      .setInputCol("__f").setOutputCol("__h").setNumHashTables(5).setSeed(42L)
      .fit(featured)
    val idxSets = featured.select(col("doc_id"), col("__f")).collect()
      .map(r => r.getLong(0) ->
        r.getAs[org.apache.spark.ml.linalg.Vector](1).toSparse.indices.toSet)
      .toMap
    // threshold > 1 keeps EVERY colliding candidate with its distance —
    // exactly the pair population the q19 oracle verifies
    val joined = model
      .approxSimilarityJoin(featured, featured, 1.1, "dist")
      .select(col("datasetA.doc_id").as("ida"), col("datasetB.doc_id").as("idb"),
        col("dist"))
      .filter(col("ida") < col("idb"))
      .as[(Long, Long, Double)].collect()
    assert(joined.length > 20, "fixture produced a real candidate set")
    joined.foreach { case (ida, idb, dist) =>
      val (sa, sb) = (idxSets(ida), idxSets(idb))
      val oracleDist = 1.0 - sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(dist - oracleDist) < 1e-12,
        s"keyDistance mismatch for ($ida, $idb)")
    }
  }
}
