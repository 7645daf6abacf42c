package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{IngestCli, MedallionPipeline}
import graft.operators.{Images, Quality}

/** A benchmark workload. `stage` runs once in set-up (off the clock),
  * `run` is the timed pass and calls only the engine's public functions,
  * `verify` checks the pass's outputs off the clock, and `cleanup`
  * removes everything the pass left behind so no pass reuses another's
  * state. */
trait Workload {
  /** Wall times of the pass's unit calls, whose median is `call_p50_s`:
    * the latency one user request sees. */
  def units(p: Pass): Seq[Double]
  def stage(): Unit = ()
  def run(p: Pass): Unit
  def verify(p: Pass): Unit
  /** Directories holding what a pass stored. */
  def storedDirs: Seq[String]
  /** Bytes of input the engine reads in one pass. */
  def inputBytes: Long
  def cleanup(spark: SparkSession): Unit = ()
}

object Workloads {
  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum
    else if (f.isFile) f.length() else 0L

  def rmrf(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path))

  def files(dir: String, suffix: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(suffix)).sortBy(_.getName)

  def ids(df: DataFrame): Set[Long] =
    df.select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSet

  /** Drop every catalog table of a namespace (state tables are external:
    * their data lives under the workload's state dir). */
  def dropTables(spark: SparkSession, ns: String): Unit =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(ns)).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
}

import Workloads._

/** The paper's pipeline: bronze → silver → diamond → gold, then the
  * quality gate, over a parallel es/nah/myn JSONL corpus. */
final class MedallionBatch(spark: SparkSession, in: String, out: String,
    truthFile: File) extends Workload {
  /** A batch user waits for the whole pipeline, so its unit is the pass. */
  def units(p: Pass): Seq[Double] = Seq(p.seconds)
  private val inputs = files(in, ".jsonl").map(_.getPath)
  private var stages = Map.empty[String, MedallionPipeline.StageResult]
  private var gate = -1
  private var firstSplits: Option[Map[String, Long]] = None
  /** The generator's stage counts. */
  private val truth = Seq("bronze", "silver", "diamond", "gold").map(k =>
    k -> Json.read(truthFile).get(k).asInstanceOf[Number].longValue).toMap

  def inputBytes: Long = files(in, ".jsonl").map(_.length).sum
  def storedDirs: Seq[String] = Seq(out)

  def run(p: Pass): Unit = {
    val results = Seq(
      p.call("medallion.bronze", "stage")(
        MedallionPipeline.bronze(spark, inputs, s"$out/bronze")),
      p.call("medallion.silver", "stage")(
        MedallionPipeline.silver(spark, s"$out/bronze", s"$out/silver")),
      p.call("medallion.diamond", "stage")(
        MedallionPipeline.diamond(spark, s"$out/silver", s"$out/diamond")),
      p.call("medallion.gold", "stage")(
        MedallionPipeline.gold(spark, s"$out/diamond", s"$out/gold"))).flatten
    stages = results.map(r => r.stage -> r).toMap
    gate = p.call("medallion.quality", "stage")(Quality.gate(
      Quality.run(spark.read.parquet(s"$out/gold"),
        Quality.corpusSuite(minVolume = 1L)))).getOrElse(-1)
    for (s <- stages.get("silver"); d <- stages.get("diamond"))
      p.count("dedup.keep_ratio", d.out.toDouble / math.max(1L, s.out))
  }

  def verify(p: Pass): Unit = {
    Seq("bronze", "silver", "diamond", "gold").foreach { s =>
      p.check(s"$s count") {
        val got = stages.get(s).map(_.out)
        if (got.contains(truth(s))) None else Some(s"got $got, want ${truth(s)}")
      }
    }
    p.check("quality gate") {
      if (gate == 0) None else Some(s"gate code $gate")
    }
    p.check("split counts") {
      val splits = spark.read.parquet(s"$out/gold").groupBy("split").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val total = splits.values.sum
      val n = math.max(1L, total).toDouble
      // Split.assign thresholds a hash, so its shares are right only in
      // expectation: allow six binomial standard deviations
      val off = graft.operators.Split.defaultRatios.filter { case (s, r) =>
        math.abs(splits.getOrElse(s, 0L) / n - r) > 6 * math.sqrt(r * (1 - r) / n) }
      if (total != truth("gold")) Some(s"splits sum to $total, want ${truth("gold")}")
      else if (off.nonEmpty) Some(s"split shares off their ratios: $splits")
      else if (firstSplits.exists(_ != splits))
        Some(s"split counts changed between passes: $splits vs ${firstSplits.get}")
      else { firstSplits = Some(splits); None }
    }
  }

  override def cleanup(spark: SparkSession): Unit = {
    rmrf(out); stages = Map.empty; gate = -1
  }
}

/** Recurring ingestion: id-ordered text waves with re-crawls and a text
  * takedown, then one image wave over payloads the engine's synthetic
  * codec renders from a seeded id set. */
final class IngestWaves(spark: SparkSession, in: String, out: String,
    truth: File, variantsPerScene: Int, corruptEvery: Int) extends Workload {
  def units(p: Pass): Seq[Double] = p.callSeconds("wave")
  private val ns = "bench_text"
  private val imgNs = "bench_img"
  private val wavePaths = files(in, ".parquet").filter(_.getName.startsWith("wave_"))
    .map(_.getPath)
  private val imageWave = s"$in/image_wave"
  private def takedown = spark.read.parquet(s"$in/takedown.parquet")
  /** The generator's exact ground truth: gold ids before and after the
    * takedown. */
  private val expected = Json.ids(truth, "gold")
  private val expectedAfter = Json.ids(truth, "after_takedown")
  private var wantImages = Set.empty[Long]
  private var before: Option[IngestCli.IngestState] = None
  private var after: Option[IngestCli.IngestState] = None
  private var lastReport: Option[IngestCli.WaveReport] = None
  private var img: Option[IngestCli.MediaState] = None

  def inputBytes: Long = wavePaths.map(new File(_).length).sum + du(new File(imageWave))
  def storedDirs: Seq[String] = Seq(out)

  /** Render the image wave's payloads once into one parquet file (a
    * crawl batch), then compute its batch-equivalent gold ids. */
  override def stage(): Unit = {
    Images.syntheticCorpus(spark.read.parquet(s"$in/image_ids.parquet"), "doc_id",
      variantsPerScene, corruptEvery).coalesce(1)
      .sortWithinPartitions("doc_id").write.mode("overwrite").parquet(imageWave)
    wantImages = ids(IngestCli.batchMediaEquivalent(spark.read.parquet(imageWave)))
  }

  def run(p: Pass): Unit = {
    val st = p.call("ingest.init", "init")(IngestCli.initState(spark, ns, out))
    wavePaths.zipWithIndex.foreach { case (path, i) =>
      for (s <- st) {
        val r = p.call(s"ingest.wave_${i + 1}", "wave")(
          IngestCli.ingestWave(spark, s, spark.read.parquet(path), i + 1))
        r.foreach { w =>
          p.count("ingest.incoming", w.incoming.toDouble)
          p.count("ingest.accepted", w.accepted.toDouble)
        }
        lastReport = r
      }
    }
    before = st
    after = st.flatMap(s => p.call("ingest.takedown", "takedown")(
      IngestCli.applyTakedown(spark, s, takedown)))

    img = p.call("media.init_images", "init")(
      IngestCli.initMediaState(spark, imgNs, s"$out/images"))
    img.foreach(s => p.call("media.image_wave", "wave")(
      IngestCli.ingestMediaWave(spark, s, spark.read.parquet(imageWave), 1)).foreach { w =>
        p.count("codec.incoming", w.incoming.toDouble)
        p.count("codec.decoded", w.decoded.toDouble)
      })
  }

  def verify(p: Pass): Unit = {
    def gold(path: Option[String], want: Set[Long]) =
      path.map(g => Pass.sameIds(ids(spark.read.parquet(g)), want))
        .getOrElse(Some("no state"))
    p.check("gold after the waves equals the ground truth")(
      gold(before.map(_.goldPath), expected))
    p.check("last wave report counts the gold") {
      lastReport.filter(_.goldTotal == expected.size).fold(
        Option(s"report ${lastReport.map(_.goldTotal)}, want ${expected.size}"))(_ => None)
    }
    p.check("gold after the takedown drops exactly the retracted ids")(
      gold(after.map(_.goldPath), expectedAfter))
    p.check("image gold equals batchMediaEquivalent")(
      gold(img.map(_.goldPath), wantImages))
  }

  override def cleanup(spark: SparkSession): Unit = {
    Seq(ns, imgNs).foreach(dropTables(spark, _)); rmrf(out)
    before = None; after = None; lastReport = None; img = None
  }
}
