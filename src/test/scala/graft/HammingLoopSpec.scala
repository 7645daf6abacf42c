package graft

import org.scalatest.funsuite.AnyFunSuite

/** The Hamming-state CLI loop (`IngestCli.runVideo`) end to end: the
  * compaction epilogue must fire on the ratio trigger and leave gold
  * exactly as an untriggered run leaves it. */
class HammingLoopSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def goldIds(path: String): Set[Long] =
    spark.read.parquet(path).select("doc_id").as[Long].collect().toSet

  test("runVideo compaction epilogue: identical clip waves fire the ratio trigger; gold matches the untriggered run") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vcompact").toString
    operators.Video.syntheticCorpus(Seq(0L, 1L, 3L, 4L).toDF("doc_id"),
        "doc_id", variantsPerScene = 3, corruptEvery = 0)
      .write.parquet(s"$dir/rw")
    // the steady-state recrawl shape: the same clips on every crawl
    val waves = Seq.fill(3)(s"$dir/rw")
    IngestCli.runVideo(spark, s"$dir/trig", waves, None, None,
      ns = "graft_vcompact_trig",
      compaction = IngestCli.CompactionPolicy(ratio = 0.2, minDocs = 1))
    IngestCli.runVideo(spark, s"$dir/notrig", waves, None, None,
      ns = "graft_vcompact_notrig",
      compaction = IngestCli.CompactionPolicy(ratio = 0.0))
    assert(spark.catalog.tableExists("graft_vcompact_trig_fsigs_v1"),
      "the ratio trigger must have fired at least one compaction")
    assert(!spark.catalog.tableExists("graft_vcompact_notrig_fsigs_v1"),
      "ratio 0 disables the epilogue")
    val trig = goldIds(IngestCli.currentGoldPath(spark, s"$dir/trig"))
    assert(trig.nonEmpty, "the first wave must land")
    assert(trig === goldIds(IngestCli.currentGoldPath(spark, s"$dir/notrig")))
  }
}
