package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Exact reference for embeddingDedup: drop every id_b of the
    * similarPairs cross join. */
  private def crossJoinDedupIds(df: DataFrame, t: Double): Set[Long] = {
    val dup = Similarity.similarPairs(
        df.withColumn("embedding", col("embedding").cast("array<double>")),
        "vec_id", "embedding", t)
      .select(col("id_b").as("vec_id"))
    df.join(dup, Seq("vec_id"), "left_anti")
      .select("vec_id").collect().map(_.getLong(0)).toSet
  }

  test("cosine: orthogonal 0, identical 1, opposite -1, zero-vector 0") {
    val df = Seq(
      (Array(1.0, 0.0), Array(0.0, 1.0)),
      (Array(1.0, 2.0), Array(1.0, 2.0)),
      (Array(1.0, 0.0), Array(-1.0, 0.0)),
      (Array(0.0, 0.0), Array(1.0, 1.0))).toDF("a", "b")
    val sims = df.select(round(Similarity.cosine(col("a"), col("b")), 9).as("s"))
      .collect().map(_.getDouble(0))
    assert(sims.toSeq === Seq(0.0, 1.0, -1.0, 0.0))
  }

  test("bruteForceTopK returns k neighbors per query, ranked by similarity") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val out = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 4)
      .collect()
    assert(out.length === 12)
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    for ((_, rows) <- byQ) {
      val sims = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("sim"))
      assert(sims.sorted.reverse.toSeq === sims.toSeq, "ranks must be similarity-descending")
    }
    assert(out.forall(r => r.getAs[Long]("corpus_id") != r.getAs[Long]("query_id")), "self excluded")
  }

  test("ivfTopK: deterministic, high recall with generous probes") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 3)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 3,
      nCells = 8, nProbe = 4)
    val got = ivf.select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
    val again = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 3,
      nCells = 8, nProbe = 4)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === again, "seeded k-means must make IVF deterministic")
  }

  test("embeddingDedup drops near-identical vectors, keeps the rest") {
    import graft.operators.Dedup
    val base = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.999f, 0.01f, 0.0f)),   // near-dup of 1
      (3L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.embeddingDedup(base, "vec_id", "embedding", threshold = 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(out === Set(1L, 3L))
  }

  test("semanticDedup: drops co-located near-dups, keeps unprovable rows, deterministic") {
    import graft.operators.Dedup
    // four well-separated directions, five jittered copies each — the
    // clustered regime SemDeDup is designed for (near-dups co-locate
    // in a hyperplane bucket; cross-direction cosine ~ 0)
    val rnd = new scala.util.Random(3)
    def jitter(v: Array[Double]) = v.map(x => x + rnd.nextGaussian() * 0.002)
    val dirs = Seq(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0),
      Array(0.0, 0.0, 1.0), Array(-1.0, 0.0, 0.0))
    val clean = dirs.zipWithIndex.flatMap { case (d, i) =>
      (0 until 5).map(j => ((i * 10 + j).toLong, Some(jitter(d).toSeq)))
    }
    val dirty = Seq((98L, Some(Seq(Double.NaN, 1.0, 0.0))), (99L, None))
    val df = (clean ++ dirty).toDF("vec_id", "embedding")

    val kept = Dedup.semanticDedup(df, "vec_id", "embedding", eps = 0.05, nCells = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // lowest id of each direction survives; NaN/null rows can't be
    // proven duplicate, so they pass through
    assert(kept === Set(0L, 10L, 20L, 30L, 98L, 99L))

    // matches the exact global dedup here, because every qualifying
    // pair is bucket-co-located on this fixture
    val cleanDf = clean.toDF("vec_id", "embedding")
    assert(kept - 98L - 99L === crossJoinDedupIds(cleanDf, 0.95))

    val again = Dedup.semanticDedup(df, "vec_id", "embedding", eps = 0.05, nCells = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(again === kept, "seeded buckets must make the result deterministic")

    // auto-sizing is UNCLAMPED above (no per-cell driver metadata):
    // a billion-vector corpus gets ~4M cells, not similarPairsApprox's
    // 1024-cap — Σ|cell|² must track ~256·n at any scale
    assert(Dedup.semanticCells(1000L) === 8)
    assert(Dedup.semanticCells(1_000_000L) === 3906)
    assert(Dedup.semanticCells(1_000_000_000L) === 3906250)
  }

  test("semanticDecontaminate: drops eval-adjacent rows, keeps unprovable, ignores dirty eval") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(7)
    def jitter(v: Array[Double]) = v.map(x => x + rnd.nextGaussian() * 0.002)
    val dirs = Seq(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0),
      Array(0.0, 0.0, 1.0), Array(-1.0, 0.0, 0.0))
    val corpusClean = dirs.zipWithIndex.flatMap { case (d, i) =>
      (0 until 5).map(j => ((i * 10 + j).toLong, Some(jitter(d).toSeq)))
    }
    val dirty = Seq((98L, Some(Seq(Double.NaN, 1.0, 0.0))), (99L, None))
    val corpus = (corpusClean ++ dirty).toDF("vec_id", "embedding")
    // eval set covers directions 0 and 2 only, plus unprovable rows
    // that must prove nothing
    val evalSet = Seq(
      (0L, Some(jitter(dirs(0)).toSeq)),
      (1L, Some(jitter(dirs(2)).toSeq)),
      (2L, Some(Seq(Double.NaN, 0.0, 1.0))),
      (3L, None)
    ).toDF("eval_id", "embedding")

    val kept = Dedup.semanticDecontaminate(corpus, "vec_id", "embedding",
        evalSet, "embedding", eps = 0.05, nCells = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // every corpus member of directions 0 and 2 is contaminated (not
    // just one survivor — decontamination removes ALL hits, unlike
    // dedup); directions 1 and 3 and the unprovable rows survive
    val expected = Set(10L, 11L, 12L, 13L, 14L, 30L, 31L, 32L, 33L, 34L, 98L, 99L)
    assert(kept === expected)

    // matches the brute-force cosine gate on this fixture (every
    // qualifying pair is bucket-co-located here)
    val evalVecs = Seq(jitter(dirs(0)), jitter(dirs(2)))
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else d / (na * nb)
    }
    // determinism: same seeded cells → same decision
    val again = Dedup.semanticDecontaminate(corpus, "vec_id", "embedding",
        evalSet, "embedding", eps = 0.05, nCells = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(again === kept)

    // corpus never cartesians against the eval side
    val plan = Dedup.semanticDecontaminate(corpus, "vec_id", "embedding",
        evalSet, "embedding", eps = 0.05, nCells = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    // silence the unused-helper warning if the fixture evolves
    assert(cos(evalVecs(0).toSeq, evalVecs(0).toSeq) > 0.99)
  }

  test("hardNegatives: band selection, both directions, k-limit, approx equals exact") {
    import graft.operators.Similarity
    // anchor 1 has: a near-duplicate (2, sim~1 — above the band), two
    // in-band hard negatives (3, 4), and an easy negative (5, orthogonal)
    val vs = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.999, 0.04, 0.0)),           // ~0.999 vs 1 — excluded (>= hi)
      (3L, Seq(0.8, 0.6, 0.0)),              // sim 0.8 vs anchor 1 — in band
      (4L, Seq(0.6, 0.8, 0.0)),              // sim 0.6 vs anchor 1 — in band
      (5L, Seq(0.0, 0.0, 1.0))               // 0.0 vs 1 — below lo
    ).toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(vs, "vec_id", "embedding",
      lo = 0.3, hi = 0.9, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val byAnchor = out.groupBy(_._1)
    // anchor 1: 3 and 4 in band (0.8, 0.6), ranked by sim desc; 2 and 5 out
    assert(byAnchor(1L).map(x => (x._2, x._4)).sortBy(_._2).toSeq ===
      Seq((3L, 1), (4L, 2)))
    // symmetry: 3 sees 1 as a candidate too
    assert(byAnchor(3L).exists(_._2 === 1L))
    // the near-duplicate pair (1,2) appears nowhere
    assert(!out.exists(p => Set(p._1, p._2) === Set(1L, 2L)))
    // k-limit holds per anchor
    assert(byAnchor.values.forall(_.length <= 5))

    // the cell-pruned path is output-identical to the band + window
    // over the similarPairs cross join on the real fixture
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .filter(!exists(col("embedding"), x => isnan(x)))
    val got = Similarity.hardNegatives(emb, "vec_id", "embedding", lo = 0.3, hi = 0.8, k = 5)
      .select("anchor_id", "neg_id", "sim", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val band = Similarity.similarPairs(emb, "vec_id", "embedding", t = 0.3)
      .filter(col("sim") < 0.8)
    val both = band.select(col("id_a").as("anchor_id"), col("id_b").as("neg_id"), col("sim"))
      .unionAll(band.select(col("id_b").as("anchor_id"), col("id_a").as("neg_id"), col("sim")))
    val reference = both
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("anchor_id")).orderBy(desc("sim"), asc("neg_id"))))
      .filter(col("rank") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(reference.nonEmpty)
    assert(got === reference)
  }

  test("hardNegativesAnn: subset of the exact band, same sims, coarse-bucket recall") {
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .filter(!exists(col("embedding"), x => isnan(x)))
    // the exact FULL band membership (k large enough to keep every
    // in-band mate) is the ground truth the ANN miner can only shrink
    val exact = Similarity.hardNegatives(emb, "vec_id", "embedding",
        lo = 0.3, hi = 0.8, k = 100000)
      .select("anchor_id", "neg_id", "sim")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val ann = Similarity.hardNegativesAnn(emb, "vec_id", "embedding",
        lo = 0.3, hi = 0.8, k = 5, probeK = 40, bits = 8, tables = 4)
      .select("anchor_id", "neg_id", "sim", "rank")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getInt(3))))
    // every mined pair is a true band pair with the identical sim
    ann.foreach { case (pair, (sim, _)) =>
      assert(exact.contains(pair), s"ANN mined a non-band pair $pair")
      assert(exact(pair) === sim, s"sim mismatch on $pair")
    }
    // k-limit per anchor
    assert(ann.groupBy(_._1._1).values.forall(_.length <= 5))
    // deterministic on any partitioning (seeded signatures)
    val again = Similarity.hardNegativesAnn(emb.repartition(7), "vec_id",
        "embedding", lo = 0.3, hi = 0.8, k = 5, probeK = 40,
        bits = 8, tables = 4)
      .select("anchor_id", "neg_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(again === ann.map(x => (x._1._1, x._1._2, x._2._2)).toSet)
    // coarse buckets + generous probe recover most of the true band —
    // the bits-down-for-mid-band guidance in the scaladoc, measured
    val coarse = Similarity.hardNegativesAnn(emb, "vec_id", "embedding",
        lo = 0.3, hi = 0.8, k = 100000, probeK = 100000, bits = 2, tables = 8)
      .select("anchor_id", "neg_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = coarse.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.8, s"coarse-bucket recall $recall")
  }

  test("similarPairsApprox equals exact similarPairs on unclustered random embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val exact = Similarity.similarPairs(emb, "vec_id", "embedding", t = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pruned = Similarity.similarPairsInCells(emb, "vec_id", "embedding", t = 0.4, nCells = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "fixture should contain at least one qualifying pair")
    assert(pruned === exact, "cell pruning must be loss-free (exact-output guarantee)")
    // corpus-sized cells (similarPairsApprox itself) are a cost choice
    // only: identical output through a different cell partition
    val auto = Similarity.similarPairsApprox(emb, "vec_id", "embedding", t = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(auto === exact, "auto-sized cells must preserve the exact output")
  }

  test("autoCells: ~256 vectors per cell, clamped to [8, 1024]") {
    assert(Similarity.autoCells(0L) === 8)
    assert(Similarity.autoCells(2000L) === 8)
    assert(Similarity.autoCells(256L * 64) === 64)
    assert(Similarity.autoCells(20000L) === 78)
    assert(Similarity.autoCells(10_000_000L) === 1024)
    // monotone in corpus size within the clamp window
    val pts = Seq(3000L, 10000L, 50000L, 200000L).map(Similarity.autoCells)
    assert(pts === pts.sorted)
  }

  test("NaN vectors cannot poison cell geometry (exactness regression)") {
    import spark.implicits._
    // two near-identical vectors that MUST pair at t=0.9, plus a
    // NaN-poisoned vector in the same direction. NaN similarity orders
    // ABOVE every threshold in Spark (and DuckDB), so the EXACT join
    // keeps all NaN pairs — the pruned path must reproduce that AND
    // must not let the NaN member poison its cell's centroid (which
    // silently pruned the cell's real pairs before the quarantine).
    val v = Array.tabulate(8)(i => 0.5 + 0.1 * i)
    val vNear = v.map(_ + 1e-3)
    val vNaN = v.clone(); vNaN(3) = Double.NaN
    // a null vector never pairs (its similarity is null), and the
    // quarantine drops it before counting: it is neither a vector nor
    // a dirty one in the metric pair
    val df = Seq[(Long, Option[Seq[Double]])](
      (1L, Some(v.toSeq)), (2L, Some(vNear.toSeq)), (3L, Some(vNaN.toSeq)), (4L, None)
    ).toDF("vec_id", "embedding")
    val exact = Similarity.similarPairs(df, "vec_id", "embedding", t = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact === Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"exact baseline keeps NaN pairs: $exact")
    val pruned = Similarity.similarPairsInCells(df, "vec_id", "embedding", t = 0.9, nCells = 4)
    // the action must run on `pruned` ITSELF: observed metrics live on
    // the executed QueryExecution, not on derived datasets' plans
    val prunedPairs = pruned.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prunedPairs === exact, "pruned output must equal exact incl. NaN pairs")
    // the quarantine is OBSERVABLE: the plan carries a
    // graft.nan_quarantine.* metric pair counting total and dirty
    // vectors, and the listener's threshold logic fires on this mix
    val metrics = pruned.queryExecution.observedMetrics
      .filter { case (name, _) => name.startsWith(operators.NanQuarantine.prefix) }
    assert(metrics.nonEmpty, s"quarantine metrics must surface: ${pruned.queryExecution.observedMetrics.keys}")
    val row = metrics.values.head
    assert(row.getAs[Long]("n_vecs") === 3L && row.getAs[Long]("n_dirty") === 1L,
      s"got $row")
    val warn = operators.NanQuarantine.checkRow("m", 3L, 1L)
    assert(warn.exists(_.contains("1 of 3")), s"dirty third must warn: $warn")
    assert(operators.NanQuarantine.checkRow("m", 1000000L, 2L).isEmpty,
      "trace NaN rates stay quiet")
    assert(operators.NanQuarantine.checkRow("m", 100L, 0L).isEmpty)
  }

  test("cell pruning actually prunes cell pairs on clustered vectors") {
    // two tight antipodal-ish clusters: near-dups inside a cluster,
    // nothing qualifying across clusters at t=0.9
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Double]) = base.map(_ + rnd.nextGaussian() * 0.01)
    val c1 = Array(1.0, 0.0, 0.0, 0.0)
    val c2 = Array(0.0, 1.0, 0.0, 0.0)
    val rows = (0L until 100L).map(i =>
      (i, if (i % 2 == 0) jitter(c1) else jitter(c2)))
    val df = rows.toDF("vec_id", "embedding")
    val allowed = Similarity.cellPartition(
      df.select(col("embedding").cast("array<double>").as("__v")), t = 0.9, nCells = 8)
    assert(allowed.size < 8 * 8,
      s"clustered data must prune some of the 64 cell pairs, got ${allowed.size}")
    val exact = Similarity.similarPairs(df, "vec_id", "embedding", t = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = Similarity.similarPairsInCells(df, "vec_id", "embedding", t = 0.9, nCells = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(pruned === exact)
  }

  test("embeddingDedup pruned default matches exact cross-join path") {
    import graft.operators.Dedup
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val viaPruned = Dedup.embeddingDedup(emb, "vec_id", "embedding", threshold = 0.4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(viaPruned === crossJoinDedupIds(emb, 0.4))
    assert(viaPruned.size < 500, "threshold 0.4 should drop at least one near-pair member")
  }

  test("int8 quantization round-trip: bounded error, high cosine, values in [-127,127]") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val qz = emb.withColumn("__qz", Similarity.quantizeInt8(col("v")))
    val dq = Similarity.dequantizeInt8(col("__qz.q"), col("__qz.scale"))
    val checked = qz.select(
      col("vec_id"),
      col("__qz.scale").as("scale"),
      array_max(zip_with(col("v"), dq, (a, b) => abs(a - b))).as("max_err"),
      Similarity.cosine(col("v"), dq).as("cos"),
      array_max(transform(col("__qz.q"), x => abs(x.cast("int")))).as("max_q"))
    assert(checked.filter(col("max_err") > col("scale") / 2 + lit(1e-12)).count() === 0L,
      "reconstruction error must be bounded by scale/2")
    assert(checked.filter(col("max_q") > 127).count() === 0L)
    assert(checked.filter(col("cos") < 0.999).count() === 0L,
      "int8 quantization of 64-dim unit-ish vectors keeps cosine ≈ 1")
  }

  test("quantized kNN: byte kernel matches double dot on quantized values; high agreement with exact") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("v", col("embedding").cast("array<double>"))
    val qz = emb.select(col("vec_id"), col("v"),
      Similarity.quantizeInt8(col("v"))("q").as("q8"))
    // kernel identity: dot8(q,q) == dot(double(q), double(q)) exactly
    val bad = qz.select(
      Similarity.dotInt8(col("q8"), col("q8")).cast("double").as("i8"),
      Similarity.dot(col("q8").cast("array<double>"), col("q8").cast("array<double>")).as("dd"))
      .filter(col("i8") =!= col("dd")).count()
    assert(bad === 0L, "integer kernel must agree with the double kernel on int8 values")
    // search quality: quantized-metric top-5 overlaps exact-metric top-5
    val queries = qz.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb.select(col("vec_id"), col("v")),
        queries.select(col("vec_id"), col("v")), "vec_id", "v", k = 5)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.quantizedTopK(qz, queries, "vec_id", "q8", k = 5)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (exact & quant).size.toDouble / exact.size
    assert(overlap >= 0.8, s"int8 quantization should barely perturb top-k, overlap=$overlap")
  }

  test("lshTopK recall vs brute force is reasonable on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 3)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // random 64-dim embeddings: top sims ≈ 0.3 (≈72° angle), so per-table
    // collision at b bits ≈ 0.6^b — 4 bits × 8 tables ⇒ ~67% expected recall.
    val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding", k = 3,
        bits = 4, tables = 8)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"LSH recall too low: $recall")
  }

  test("centroidReport: exact geometry on representable vectors; NaN quarantined") {
    import spark.implicits._
    // label a: (1,0) and (0,1) → centroid (0.5, 0.5); cos(member, centroid) = √2/2
    // label b: (2,0) and (4,0) → centroid (3, 0); both members at cos 1
    // label c: one NaN-poisoned vector and one clean → only the clean one counts
    val vecs = Seq(
      ("a", Seq(1.0, 0.0)), ("a", Seq(0.0, 1.0)),
      ("b", Seq(2.0, 0.0)), ("b", Seq(4.0, 0.0)),
      ("c", Seq(Double.NaN, 1.0)), ("c", Seq(0.0, 8.0))
    ).toDF("label", "embedding")
    val rep = Similarity.centroidReport(vecs, "label", "embedding")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(rep("a") === ((2L, 0.707107, 0.707107)))
    assert(rep("b") === ((2L, 1.0, 1.0)))
    assert(rep("c") === ((1L, 1.0, 1.0)), "NaN vector must not poison the centroid")
  }

  test("marginMine: mutual translations mined, hub pairs suppressed by the ratio margin") {
    import spark.implicits._
    // Each src i has a mutual translation partner; tgt 13 is a HUB
    // (moderately close to every src). The hub's dense neighborhood
    // inflates its average-neighbor denominator, so its margin stays
    // low and every src mines its mutual partner with margin > 1.
    val src = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0))
    ).toDF("vec_id", "embedding")
    val tgt = Seq(
      (11L, Seq(0.995, 0.1, 0.0)), // ≈ src 1
      (12L, Seq(0.1, 0.995, 0.0)), // ≈ src 2
      (13L, Seq(0.55, 0.6, 0.58)), // hub: moderately close to all
      (14L, Seq(0.0, 0.12, 0.993)) // ≈ src 3
    ).toDF("vec_id", "embedding")
    val mined = Similarity.marginMine(src, tgt, "vec_id", "embedding", k = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(mined(1L)._1 === 11L)
    assert(mined(2L)._1 === 12L, "ratio margin must suppress the hub")
    assert(mined(3L)._1 === 14L)
    assert(mined.values.forall(_._2 >= 1.0), "mutual pairs sit above the average-neighbor line")
    // a margin threshold above the best pair mines nothing
    assert(Similarity.marginMine(src, tgt, "vec_id", "embedding", k = 3,
      minMargin = 2.5).count() === 0L)
    // ANN path agrees with exact on real embeddings (generous tables)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val s = emb.filter(col("vec_id") % 2 === 0 && col("vec_id") < 100)
    val t = emb.filter(col("vec_id") % 2 === 1 && col("vec_id") < 100)
    val exact = Similarity.marginMine(s, t, "vec_id", "embedding", k = 3)
      .select("src_id", "tgt_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.marginMine(s, t, "vec_id", "embedding", k = 3,
        ann = true, bits = 4, tables = 8)
      .select("src_id", "tgt_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val agree = (exact & approx).size.toDouble / math.max(exact.size, 1)
    assert(agree >= 0.3, s"ANN margin mining agreement too low: $agree")
  }
}
